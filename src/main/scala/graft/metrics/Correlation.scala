package graft.metrics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.gen.Generators.hashUniform

/** Rank-correlation utilities (reference A6–A8: benchmark.py:212-241,
  * visualization.py:28-90). */
object Correlation {

  /** Average tie rank (scipy.stats.rankdata 'average' — what spearmanr
    * uses), computed from a cumulative count over DISTINCT values:
    * rank(v) = cum(v) - (cnt(v)-1)/2. The unpartitioned window runs
    * over distinct values only; joining back distributes. For data
    * where even distinct values are huge, pre-bucket into quantiles
    * (approximate spearman) — exactness is kept here for oracle parity.
    */
  private def avgRank(df: DataFrame, c: String, rankCol: String): DataFrame = {
    val w = Window.orderBy(col(c))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = df.groupBy(col(c)).agg(count(lit(1)).as("_c"))
      .withColumn(rankCol, sum("_c").over(w) - (col("_c") - 1) / 2.0)
      .drop("_c")
    df.join(ranks, c.replaceAll("`", "") :: Nil)
  }

  /** Scale twin of [[avgRank]]: the unpartitioned window above funnels
    * ALL distinct values through one task's sort — fine to ~10⁷
    * distincts, a single-machine bottleneck at corpus scale. Here the
    * cumulative count is a range-partitioned sort plus a driver prefix
    * sum over per-partition totals (the denseIndex pattern): every
    * stage is distributed, ranks are the identical cum − (cnt−1)/2
    * halves. The sorted distinct-count RDD stays persisted so the
    * caller's final action reuses it; its release lands in `free`. */
  private def avgRankDistributed(spark: SparkSession, df: DataFrame,
      c: String, rankCol: String,
      free: scala.collection.mutable.ArrayBuffer[() => Unit]): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val counted = df.groupBy(col(c)).agg(count(lit(1)).as("_c"))
      .repartitionByRange(parts, col(c))
      .sortWithinPartitions(col(c))
    val rdd = counted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    free += (() => rdd.unpersist(blocking = false))
    // pass 1: per-partition total counts → driver prefix offsets
    val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L; it.foreach(s += _.getLong(1)); Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(0L)(_ + _)
    // pass 2: running cumulative inside each partition + avg tie rank
    // (recomputes from the persisted parent — a narrow map)
    val rankedRdd = rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = offsets(i)
      it.map { r =>
        val cnt = r.getLong(1)
        cum += cnt
        org.apache.spark.sql.Row(r.get(0), cum - (cnt - 1) / 2.0)
      }
    }
    val schema = StructType(Seq(counted.schema.head,
      StructField(rankCol, DoubleType, nullable = false)))
    df.join(spark.createDataFrame(rankedRdd, schema),
      c.replaceAll("`", "") :: Nil)
  }

  /** Spearman ρ of `x` against EVERY column in `ys`, in ONE job total
    * (a union of per-pair ranked aggregates) instead of ~4 jobs per
    * pair — the difference between seconds and minutes when a benchmark
    * computes 5 correlations per pipeline.
    *
    * Null semantics are PAIRWISE deletion (scipy/pandas `corr`
    * pairwise): each pair (x, y) is ranked and correlated over exactly
    * the rows where BOTH x and that y are non-null — a null in one y
    * column never changes another pair's ρ. Constant columns (A11
    * guard, run_benchmarks.py:169-175) map to NaN via the
    * zero-variance guard on the hand-rolled Pearson (built-in corr
    * raises DIVIDE_BY_ZERO under ANSI on zero variance — hit live on a
    * constant PageRank over disjoint K2 components). */
  def spearmanMany(df: DataFrame, x: String, ys: Seq[String]): Map[String, Double] =
    spearmanManyWithN(df, x, ys)
      .map { case (k, v) => k -> v._1 }

  /** As [[spearmanMany]] but also returns each pair's non-null row
    * count — the n the t-approximation p-value needs under pairwise
    * deletion (a ρ computed on fewer rows must not borrow the full
    * frame's count). */
  def spearmanManyWithN(df: DataFrame, x: String, ys: Seq[String],
                        windowRankMaxRows: Long = 30000000L): Map[String, (Double, Long)] = {
    if (ys.isEmpty) return Map.empty
    val cols = x +: ys
    val cached = df.select(cols.map(col): _*)
    // Driver route below the row cap: a correlation report on a small
    // frame costs two distributed jobs (distinct guard + ranked corr)
    // of pure scheduler latency; ranks are exact halves either way and
    // the Pearson differs only in summation order (~1e-15 — parity
    // test-pinned).
    val local = localRows(cached)
    if (local.isDefined)
      return spearmanManyLocal(local.get, ys)
        .map { case (k, v) => k -> (v, local.get.length.toLong) }
    // Distributed route: one branch per pair, each filtered to ITS
    // non-null rows (pairwise deletion), ranked, and reduced to the
    // five Pearson sums; the union of k one-row aggregates collects in
    // a single action. The pruned (k+1)-column frame is persisted so
    // the k branches re-read the cache, not the source scan. Above
    // `windowRankMaxRows` the window-over-distinct rank (one task's
    // sort) is swapped for the range-partitioned prefix-sum rank —
    // extra jobs per pair, every stage distributed.
    val persisted = cached.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val free = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    try {
      val spark = df.sparkSession
      val useWindowRank = persisted.count() <= windowRankMaxRows
      def ranked2(sub: DataFrame): DataFrame =
        if (useWindowRank) avgRank(avgRank(sub, "_x", "_rx"), "_y", "_ry")
        else avgRankDistributed(spark,
          avgRankDistributed(spark, sub, "_x", "_rx", free), "_y", "_ry", free)
      val branches = ys.zipWithIndex.map { case (y, i) =>
        val sub = persisted.select(col(x).as("_x"), col(y).as("_y"))
          .filter(col("_x").isNotNull && col("_y").isNotNull)
        ranked2(sub).agg(
          count(lit(1)).as("n"),
          // A11 constant guard, per pair, inside the same aggregate:
          // at large n the raw-moment variance of a CONSTANT column can
          // round to a tiny nonzero, so dx>0 alone is not a safe guard.
          countDistinct(col("_x")).as("ndx"),
          countDistinct(col("_y")).as("ndy"),
          sum("_rx").as("sx"), sum("_ry").as("sy"),
          sum(col("_rx") * col("_rx")).as("sxx"),
          sum(col("_ry") * col("_ry")).as("syy"),
          sum(col("_rx") * col("_ry")).as("sxy"))
          .select(lit(i).as("pair"), col("n"), col("ndx"), col("ndy"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("dx"),
            (col("n") * col("syy") - col("sy") * col("sy")).as("dy"))
      }
      // zero variance (constant within the pair's non-null subset) or
      // an empty subset (null sums) both land in the otherwise(NaN).
      val rows = branches.reduce(_ union _)
        .select(col("pair"), col("n"),
          when(col("ndx") > 1 && col("ndy") > 1 &&
            col("dx") > 0 && col("dy") > 0,
            col("num") / sqrt(col("dx") * col("dy")))
            .otherwise(lit(Double.NaN)).as("rho"))
        .collect()
      val byPair = rows.map(r => r.getInt(0) -> (r.getDouble(2), r.getLong(1))).toMap
      ys.zipWithIndex.map { case (c, i) =>
        val (rho, n) = byPair(i)
        // rank sums are exact halves, but the Pearson quotient can land
        // a hair outside [-1, 1]
        c -> (math.max(-1.0, math.min(1.0, rho)), n)
      }.toMap
    } finally persisted.unpersist(blocking = false)
  }

  /** Driver twin of the ranked-corr plan: scipy rankdata('average')
    * ranks (identical to avgRank's cum − (cnt−1)/2 form) + sample
    * Pearson, same constant-column NaN guard and [-1,1] clamp. */
  private def spearmanManyLocal(rows: Array[org.apache.spark.sql.Row],
                                ys: Seq[String]): Map[String, Double] = {
    val n = rows.length
    if (n == 0) return ys.map(_ -> Double.NaN).toMap
    val xd = localColData(rows, 0)
    if (xd.distinct.length <= 1) return ys.map(_ -> Double.NaN).toMap
    val rx = localRanks(xd)
    ys.zipWithIndex.map { case (c, i) =>
      val yd = localColData(rows, i + 1)
      c -> (if (yd.distinct.length <= 1) Double.NaN
            else math.max(-1.0, math.min(1.0, localPearson(rx, localRanks(yd)))))
    }.toMap
  }

  /** The rows of `cached` for the driver route, when it has at most
    * `DriverRoute.StatRows` of them, every column is numeric and no
    * value is null or NaN. Nulls and NaNs fall back distributed: the
    * groupBy rank's null/NaN-normalized grouping is the contract there,
    * and the local primitive == would split NaN ties. Non-numeric types
    * (string, date, boolean — rankable distributed) never route local
    * either. */
  private def localRows(cached: DataFrame): Option[Array[org.apache.spark.sql.Row]] = {
    val numeric = cached.schema.fields.forall(f => f.dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    })
    def unsafe(r: org.apache.spark.sql.Row) = (0 until r.length).exists { i =>
      r.isNullAt(i) || (r.get(i) match {
        case d: java.lang.Double => d.isNaN
        case f: java.lang.Float => f.isNaN
        case _ => false
      })
    }
    if (!numeric) None
    else graft.util.DriverRoute.probeRows(cached, graft.util.DriverRoute.StatRows)
      .filterNot(_.exists(unsafe))
  }

  // the driver-route kernels, shared by spearmanManyLocal and
  // matrixLocal so the two routes can never drift
  // (caller guarantees all-numeric schema, no nulls, no NaNs)
  private def localColData(rows: Array[org.apache.spark.sql.Row],
                           i: Int): Array[Double] = rows.map { r =>
    r.get(i) match {
      case d: java.lang.Double => d.doubleValue
      case f: java.lang.Float => f.doubleValue
      case l: java.lang.Long => l.doubleValue
      case x: java.lang.Integer => x.doubleValue
      case s: java.lang.Short => s.doubleValue
      case b: java.lang.Byte => b.doubleValue
      case d: java.math.BigDecimal => d.doubleValue
      case v => throw new IllegalStateException(
        s"non-numeric value in driver spearman route: $v")
    }
  }

  private def localRanks(a: Array[Double]): Array[Double] = {
    val n = a.length
    val idx = a.indices.toArray.sortBy(a(_))
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      var j = i
      while (j + 1 < n && a(idx(j + 1)) == a(idx(i))) j += 1
      val avg = (i + j + 2) / 2.0 // 1-based positions i+1..j+1 averaged
      var k = i
      while (k <= j) { out(idx(k)) = avg; k += 1 }
      i = j + 1
    }
    out
  }

  private def localPearson(u: Array[Double], v: Array[Double]): Double = {
    val n = u.length
    var su = 0.0; var sv = 0.0; var suu = 0.0; var svv = 0.0; var suv = 0.0
    var i = 0
    while (i < n) {
      su += u(i); sv += v(i); suu += u(i) * u(i); svv += v(i) * v(i)
      suv += u(i) * v(i); i += 1
    }
    val cov = suv - su * sv / n
    val du = suu - su * su / n
    val dv = svv - sv * sv / n
    cov / math.sqrt(du * dv)
  }

  /** Spearman ρ of two columns (benchmark.py:224: scipy spearmanr). */
  def spearman(df: DataFrame, x: String, y: String): Double =
    spearmanMany(df, x, y :: Nil)(y)

  /** Spearman (ρ, p) — the reference returns both (benchmark.py:224).
    * p-value via the large-n t approximation scipy uses by default:
    * t = ρ·sqrt((n-2)/(1-ρ²)), two-sided p from Student-t with n-2 df
    * (driver-side arithmetic; SURVEY.md §2.4 A6). */
  def spearmanWithP(df: DataFrame, x: String, y: String): (Double, Double) = {
    val (rho, n) = spearmanManyWithN(df, x, y :: Nil)(y)
    if (rho.isNaN) (rho, Double.NaN)
    else (rho, spearmanPValue(rho, n))
  }

  /** Two-sided p for a Spearman ρ at sample size n (t approximation). */
  def spearmanPValue(rho: Double, n: Long): Double = {
    if (n <= 2) return Double.NaN
    if (math.abs(rho) >= 1.0) return 0.0
    val df = (n - 2).toDouble
    val t = rho * math.sqrt(df / (1.0 - rho * rho))
    2.0 * studentTSf(math.abs(t), df)
  }

  /** Student-t survival function via the regularized incomplete beta:
    * P(T > t) = I_{df/(df+t²)}(df/2, 1/2) / 2. */
  private def studentTSf(t: Double, df: Double): Double = {
    val xBeta = df / (df + t * t)
    0.5 * regIncBeta(xBeta, df / 2.0, 0.5)
  }

  /** Regularized incomplete beta I_x(a,b) by Lentz continued fraction
    * (Numerical Recipes §6.4 — public-domain formula). */
  private def regIncBeta(x: Double, a: Double, b: Double): Double = {
    if (x <= 0.0) return 0.0
    if (x >= 1.0) return 1.0
    val lnFront = lnGamma(a + b) - lnGamma(a) - lnGamma(b) +
      a * math.log(x) + b * math.log1p(-x)
    val front = math.exp(lnFront)
    // continued fraction converges fastest for x < (a+1)/(a+b+2)
    if (x < (a + 1.0) / (a + b + 2.0)) front * betaCf(x, a, b) / a
    else 1.0 - regIncBeta(1.0 - x, b, a)
  }

  private def betaCf(x: Double, a: Double, b: Double): Double = {
    val eps = 1e-14
    var c = 1.0
    var d = 1.0 - (a + b) * x / (a + 1.0)
    if (math.abs(d) < 1e-300) d = 1e-300
    d = 1.0 / d
    var h = d
    var m = 1
    while (m <= 200) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((a + m2 - 1.0) * (a + m2))
      d = 1.0 + aa * d; if (math.abs(d) < 1e-300) d = 1e-300
      c = 1.0 + aa / c; if (math.abs(c) < 1e-300) c = 1e-300
      d = 1.0 / d
      h *= d * c
      aa = -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1.0))
      d = 1.0 + aa * d; if (math.abs(d) < 1e-300) d = 1e-300
      c = 1.0 + aa / c; if (math.abs(c) < 1e-300) c = 1e-300
      d = 1.0 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < eps) return h
      m += 1
    }
    h
  }

  /** Lanczos log-gamma (g=7, public-domain coefficients). */
  private def lnGamma(xIn: Double): Double = {
    val g = Array(676.5203681218851, -1259.1392167224028, 771.32342877765313,
      -176.61502916214059, 12.507343278686905, -0.13857109526572012,
      9.9843695780195716e-6, 1.5056327351493116e-7)
    if (xIn < 0.5)
      math.log(math.Pi / math.sin(math.Pi * xIn)) - lnGamma(1.0 - xIn)
    else {
      val x = xIn - 1.0
      var a = 0.99999999999980993
      var i = 0
      while (i < 8) { a += g(i) / (x + i + 1); i += 1 }
      val t = x + 7.5
      0.5 * math.log(2 * math.Pi) + (x + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** A11 constant-column guard (run_benchmarks.py:169-175). */
  def isConstant(df: DataFrame, c: String): Boolean =
    df.agg(countDistinct(col(c))).collect()(0).getLong(0) <= 1

  /** A7 full Spearman correlation matrix over the given columns
    * (visualization.py:52-90): returns (col_x, col_y, rho) rows.
    * One spearmanMany pass per row-column — O(k) jobs, not O(k²). */
  def matrix(spark: SparkSession, df: DataFrame, cols: Seq[String]): DataFrame = {
    import spark.implicits._
    // Driver route below the row cap (guide §1.2/§5 driver latency —
    // the k-column loop below costs 2k jobs of scheduler latency on a
    // fixture-scale frame): ONE collect serves every pair, through the
    // IDENTICAL rank/pearson kernels spearmanMany's driver route uses,
    // so each (a, b) value is the same double the per-row-column calls
    // produce. Same routing guards as spearmanManyWithN ([[localRows]]):
    // anything else falls back to the per-row-column loop whose groupBy
    // semantics are the contract.
    val local = localRows(df.select(cols.map(col): _*))
    if (local.isDefined)
      return matrixLocal(local.get, cols).toDF("col_x", "col_y", "rho")
    val rows = cols.flatMap { a =>
      val others = cols.filterNot(_ == a)
      val rhos = spearmanMany(df, a, others)
      val self = if (isConstant(df, a)) Double.NaN else 1.0
      (a, a, self) +: others.map(b => (a, b, rhos(b)))
    }
    rows.toDF("col_x", "col_y", "rho")
  }

  /** Driver twin of [[matrix]]'s per-row-column loop: per-column
    * average-tie ranks once, the same sample Pearson per pair, the
    * same constant-column NaN diag/off-diag guards — bit-identical to
    * calling [[spearmanMany]]'s driver route k times (the kernels are
    * shared and a pair's value never depends on other columns). */
  private def matrixLocal(rows: Array[org.apache.spark.sql.Row],
                          cols: Seq[String]): Seq[(String, String, Double)] = {
    val data = cols.indices.map(i => localColData(rows, i)).toArray
    val constant = data.map(a => a.distinct.length <= 1)
    val rks = data.indices.map(i =>
      if (constant(i)) null else localRanks(data(i))).toArray
    cols.indices.flatMap { ai =>
      cols.indices.map { bi =>
        val rho =
          if (ai == bi) { if (constant(ai)) Double.NaN else 1.0 }
          else if (rows.isEmpty || constant(ai) || constant(bi)) Double.NaN
          else math.max(-1.0, math.min(1.0,
            localPearson(rks(ai), rks(bi))))
        (cols(ai), cols(bi), rho)
      }
    }
  }

  /** Composite correlation report (visualization.py:52-150): the full
    * Spearman matrix over `cols` with a bootstrap CI per off-diagonal
    * pair — (col_x, col_y, rho, p_value, ci_lo, ci_hi) rows, renderable
    * through the S19 sinks. One spearmanMany pass per row-column plus
    * one grouped bootstrap job per pair. */
  def report(spark: SparkSession, df: DataFrame, cols: Seq[String],
             resamples: Int = 1000, alpha: Double = 0.05,
             seed: Long = 42): DataFrame = {
    val rows = cols.flatMap { a =>
      val others = cols.filterNot(_ == a)
      val rhos = spearmanManyWithN(df, a, others)
      others.map { b =>
        val (rho, nPair) = rhos(b)
        val (lo, hi) =
          if (rho.isNaN) (Double.NaN, Double.NaN)
          else bootstrapCi(spark, df, a, b, resamples, alpha, seed)
        (a, b, rho, spearmanPValue(rho, nPair), lo, hi)
      }
    }
    import spark.implicits._
    rows.toDF("col_x", "col_y", "rho", "p_value", "ci_lo", "ci_hi")
  }

  /** A8 bootstrap CI of Spearman ρ in the ORACLE-REPLAYABLE form (the
    * q87/q92 md5 discipline, r7 verdict #4): every (row, resample)
    * Poisson(1) weight derives from md5(seed:key:i) on a STABLE row
    * key — not [[bootstrapCi]]'s physical-order `ridx` — so a SQL
    * engine replays every resample's weights, weighted average-tie
    * ranks, ρ, and the percentile cut bit-for-bit. u is the exact
    * (v+1)/2^52 construction (first 13 md5 hex digits; both the
    * integer and the power-of-two division are exact in doubles);
    * ranks and weighted moments are exact half/quarter-integer sums,
    * so ρ agrees to the last bit and the 6-dp rounding is belt and
    * braces. Emits one row per resample (i, rho) with the CI bounds
    * (order statistics of the rounded ρs at the same indices
    * [[bootstrapCi]] cuts) as constant columns — the whole trajectory
    * sits in the hash gate, not just the two bounds.
    *
    * Scale shape: the weight explode is a narrow map (B md5s per row),
    * ranks are windows PARTITIONED by resample, ρ one grouped
    * aggregate; the only global sort is over the B-row ρ frame
    * (constant-bounded). */
  def bootstrapCiMd5(df: DataFrame, keyCol: String, x: String, y: String,
                     resamples: Int = 200, alpha: Double = 0.05,
                     seed: Long = 42): DataFrame = {
    def pois(u: Column): Column =
      when(u < 0.3678794411714423, 0).when(u < 0.7357588823428846, 1)
        .when(u < 0.9196986029286058, 2).when(u < 0.9810118431238462, 3)
        .when(u < 0.9963401531726563, 4).when(u < 0.9994058151824183, 5)
        .when(u < 0.9999167588507119, 6).otherwise(7)
    // Width note (r16, measured and kept as-is): spreading the B·n md5
    // explode and landing the weighted frame hash(i)-partitioned (an
    // exchange-free downstream — hashpartitioning(i) satisfies every
    // rank aggregate/window/join distribution below) was TRIED and
    // measured WORSE at bench scale: every widened stage multiplies
    // the C2-warmup window of its freshly-generated md5/rank code by
    // its task count (cpu 8.9 → 34.9 at the bounded quantum, → 91 at
    // cluster width, for ~1 s of wall). AQE's coalesce-to-one of these
    // ~MB stages is CPU-optimal here; at 100 TB the same frames are
    // GB-scale, AQE keeps them wide, and the plan parallelizes without
    // any code change.
    val base = df.select(col(keyCol).cast("string").as("k"),
        col(x).cast("double").as("xv"), col(y).cast("double").as("yv"))
      .filter(col("xv").isNotNull && col("yv").isNotNull)
    // persisted: consumed three times (two rank subplans + the pair
    // frame). Unlike bootstrapCi's ridx form this is DETERMINISTIC on
    // recompute — the persist is purely the B×n explode's cost, not a
    // correctness requirement (the q27 lsh.cache() posture).
    val weighted = base
      .select(col("xv"), col("yv"),
        explode(sequence(lit(0), lit(resamples - 1))).as("i"),
        col("k"))
      .withColumn("_v", conv(substring(
        md5(concat_ws(":", lit(seed.toString), col("k"), col("i"))),
        1, 13), 16, 10).cast("long"))
      .withColumn("w", pois((col("_v") + lit(1L)) / lit(4503599627370496.0)))
      .filter(col("w") > 0)
      .select("i", "xv", "yv", "w")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def rankOf(v: String, rankCol: String): DataFrame = {
      val w = Window.partitionBy("i").orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      weighted.groupBy(col("i"), col(v)).agg(sum("w").as("_cw"))
        .withColumn(rankCol, sum("_cw").over(w) - (col("_cw") - 1) / 2.0)
        .select(col("i"), col(v), col(rankCol))
    }
    val rhos = weighted
      .join(rankOf("xv", "_rx"), Seq("i", "xv"))
      .join(rankOf("yv", "_ry"), Seq("i", "yv"))
      .groupBy("i").agg(
        sum("w").as("sw"),
        sum(col("w") * col("_rx")).as("sx"),
        sum(col("w") * col("_ry")).as("sy"),
        sum(col("w") * col("_rx") * col("_rx")).as("sxx"),
        sum(col("w") * col("_ry") * col("_ry")).as("syy"),
        sum(col("w") * col("_rx") * col("_ry")).as("sxy"))
      .select(col("i"),
        round((col("sw") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("sw") * col("sxx") - col("sx") * col("sx")) *
            (col("sw") * col("syy") - col("sy") * col("sy"))), 6).as("rho"))
      .filter(col("rho").isNotNull && !isnan(col("rho")))
    // order-statistic cut at bootstrapCi's indices over the B-row frame
    val loIdx = math.max(0, (alpha / 2 * resamples).toInt) + 1
    val hiIdx = math.min(resamples - 1,
      ((1 - alpha / 2) * resamples).toInt) + 1
    val wRho = Window.orderBy(col("rho"), col("i"))
    val cut = rhos.withColumn("_rn", row_number().over(wRho))
      .filter(col("_rn") === loIdx || col("_rn") === hiIdx)
      .agg(min("rho").as("ci_lo"), max("rho").as("ci_hi"))
    rhos.crossJoin(broadcast(cut)).select("i", "rho", "ci_lo", "ci_hi")
  }

  /** A8 bootstrap CI of ρ (visualization.py:31-46) as ONE grouped job
    * via the Poisson bootstrap: each (row, resample) pair draws a
    * deterministic Poisson(1) weight from a hash of the row's values —
    * the standard large-data approximation of multinomial resampling
    * (resample sizes vary n±√n; CI quality is equivalent at any n the
    * CI is meaningful for). Per resample: weighted average-tie ranks
    * (two distinct-value windows partitioned BY resample) and a
    * weighted Pearson over the ranks — every resample computed in the
    * same shuffles, no driver loop. */
  def bootstrapCi(spark: SparkSession, df: DataFrame, x: String, y: String,
                  resamples: Int = 1000, alpha: Double = 0.05,
                  seed: Long = 42): (Double, Double) = {
    // Poisson(1) inverse CDF, capped at 7 (P(X>7) ≈ 1e-5)
    def pois(u: Column): Column =
      when(u < 0.3678794411714423, 0).when(u < 0.7357588823428846, 1)
        .when(u < 0.9196986029286058, 2).when(u < 0.9810118431238462, 3)
        .when(u < 0.9963401531726563, 4).when(u < 0.9994058151824183, 5)
        .when(u < 0.9999167588507119, 6).otherwise(7)
    val base = df.select(col(x).cast("double").as("xv"),
      col(y).cast("double").as("yv"))
      // pairwise-deletion parity with spearmanMany: only rows where
      // both columns are present enter the resamples.
      .filter(col("xv").isNotNull && col("yv").isNotNull)
      // row discriminator: duplicate (x,y) rows must draw independent
      // weights, so fold in a per-partition row index (deterministic
      // for a deterministic input partitioning).
      .withColumn("ridx", monotonically_increasing_id())
    // ridx — and hence every row's Poisson weights — depends on the
    // physical row order, which an upstream shuffle does not pin across
    // re-evaluations. The frame is consumed THREE times (the pair frame
    // plus two rankOf subplans), so materialize once: all consumers
    // must read the same row→weight assignment or the cumulative-weight
    // ranks silently disagree with the per-row weights.
    val (weighted, ckptHandle) = graft.util.Iterate.checkpoint(spark,
      base.select(col("xv"), col("yv"),
        explode(filter(
          transform(sequence(lit(0), lit(resamples - 1)),
            i => struct(i.as("i"),
              pois(hashUniform(seed, col("ridx"), i)).as("w"))),
          s => s.getField("w") > 0)).as("s"))
        .select(col("s.i").as("i"), col("xv"), col("yv"), col("s.w").as("w")))
    def rankOf(v: String, rankCol: String): DataFrame = {
      val w = Window.partitionBy("i").orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      weighted.groupBy(col("i"), col(v)).agg(sum("w").as("_cw"))
        .withColumn(rankCol, sum("_cw").over(w) - (col("_cw") - 1) / 2.0)
        .select(col("i"), col(v), col(rankCol))
    }
    val ranked = weighted
      .join(rankOf("xv", "_rx"), Seq("i", "xv"))
      .join(rankOf("yv", "_ry"), Seq("i", "yv"))
    // weighted Pearson over ranks, one agg per resample group
    val rhos = ranked.groupBy("i").agg(
      sum("w").as("sw"),
      sum(col("w") * col("_rx")).as("sx"),
      sum(col("w") * col("_ry")).as("sy"),
      sum(col("w") * col("_rx") * col("_rx")).as("sxx"),
      sum(col("w") * col("_ry") * col("_ry")).as("syy"),
      sum(col("w") * col("_rx") * col("_ry")).as("sxy"))
      .select(((col("sw") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("sw") * col("sxx") - col("sx") * col("sx")) *
          (col("sw") * col("syy") - col("sy") * col("sy")))).as("rho"))
      .collect().map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
      .filterNot(d => d.isNaN || d.isInfinite).sorted
    ckptHandle.unpersist(blocking = false)
    if (rhos.isEmpty) (Double.NaN, Double.NaN)
    else {
      val lo = rhos(math.max(0, (alpha / 2 * rhos.length).toInt))
      val hi = rhos(math.min(rhos.length - 1, ((1 - alpha / 2) * rhos.length).toInt))
      (lo, hi)
    }
  }
}
