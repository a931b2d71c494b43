package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.gen.Generators
import graft.model.GraphOps
import graft.metrics.{Centralities, Correlation}
import graft.util.DriverRoute

/** Centrality and correlation invariants against closed-form values on
  * canonical small graphs (the reference validates the same measures
  * via NetworkX, benchmark.py:73-107). */
class MetricsSpec extends SparkSpec {

  import spark.implicits._

  private def star(n: Int) =
    (1 until n).map(i => (0L, i.toLong)).toDF("src", "dst")

  test("degree centrality: star center is 1") {
    val dc = Centralities.degreeCentrality(star(8), 8)
    assert(math.abs(dc.filter(col("id") === 0).collect()(0).getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(dc.filter(col("id") === 1).collect()(0).getDouble(1) - 1.0 / 7) < 1e-12)
  }

  test("betweenness: star center 1, leaves 0; P3 middle 1") {
    val b = Centralities.betweenness(spark, star(8), 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(b(0L) - 1.0) < 1e-12)
    assert((1L to 7L).forall(i => b(i) == 0.0))
    val p3 = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val bp = Centralities.betweenness(spark, p3, 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(bp(1L) - 1.0) < 1e-12)
  }

  test("closeness: star center 1; leaf (n-1)/(1+2(n-2)) scaled") {
    val c = Centralities.closeness(spark, star(8), 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(c(0L) - 1.0) < 1e-12)
    val expectLeaf = (7.0 / 7.0) * (7.0 / (1 + 2 * 6))
    assert(math.abs(c(1L) - expectLeaf) < 1e-12)
  }

  test("pagerank sums to 1 and ranks the star center highest") {
    val pr = Centralities.pageRank(spark, star(8)).cache()
    val total = pr.agg(sum("pagerank")).collect()(0).getDouble(0)
    assert(math.abs(total - 1.0) < 1e-6)
    val top = pr.orderBy(desc("pagerank")).limit(1).collect()(0).getLong(0)
    assert(top == 0L)
    pr.unpersist()
  }

  test("eigenvector centrality: K3 is uniform, star center highest") {
    val k3 = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("src", "dst")
    val ev = Centralities.eigenvectorCentrality(spark, k3, 3).collect()
      .map(_.getDouble(1))
    assert(ev.max - ev.min < 1e-9)
    val evs = Centralities.eigenvectorCentrality(spark, star(6), 6)
      .orderBy(desc("eigenvector")).limit(1).collect()(0).getLong(0)
    assert(evs == 0L)
  }

  test("denseIndex: zipWithIndex path identical to the windowed path") {
    val df = (1 to 300).map(i => ((i * 37) % 1000).toLong)
      .distinct.map(Tuple1(_)).toDF("id")
    val small = graft.model.GraphOps.denseIndex(df, "id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // windowMax=0 forces the range-partition + zipWithIndex route
    val large = graft.model.GraphOps.denseIndex(df, "id", windowMax = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(small == large)
    assert(small.values.toSeq.sorted == (0L until small.size).toSeq)
  }

  test("largest connected component extracts the bigger piece") {
    val twoComp = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val lcc = graft.model.GraphOps.largestComponent(spark, twoComp)
    assert(lcc.count() == 3)
    assert(lcc.filter(col("src") >= 10).isEmpty)
  }

  test("spearman: monotone 1, anti-monotone -1, ties handled") {
    val df = (1 to 20).map(i => (i.toDouble, i * i.toDouble)).toDF("x", "y")
    assert(math.abs(Correlation.spearman(df, "x", "y") - 1.0) < 1e-12)
    val df2 = (1 to 20).map(i => (i.toDouble, -i.toDouble)).toDF("x", "y")
    assert(math.abs(Correlation.spearman(df2, "x", "y") + 1.0) < 1e-12)
    // scipy parity on a tied sample: x=[1,2,2,3], y=[1,3,2,4] with
    // average ranks rx=[1,2.5,2.5,4] → rho=0.9486832980505138
    val df3 = Seq((1.0, 1.0), (2.0, 3.0), (2.0, 2.0), (3.0, 4.0)).toDF("x", "y")
    assert(math.abs(Correlation.spearman(df3, "x", "y") - 0.9486832980505138) < 1e-9)
  }

  test("correlation matrix: diagonal 1, symmetric, constant guard NaN") {
    val df = (1 to 15).map(i => (i.toDouble, 16.0 - i, 5.0)).toDF("a", "b", "c")
    val m = Correlation.matrix(spark, df, Seq("a", "b", "c")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("a", "a")) == 1.0)
    assert(math.abs(m(("a", "b")) + 1.0) < 1e-12)
    assert(m(("a", "b")) == m(("b", "a")))
    assert(m(("a", "c")).isNaN)
  }

  test("spearman p-value matches the scipy t-approximation") {
    // fixture checked against the t-approximation scipy's spearmanr
    // uses by default (independent pure-python cross-check; anchors:
    // two-sided p(t=2.086, df=20)=0.0500, p(t=2.5758, df→∞)=0.0100)
    val x = Seq(1.0, 2.0, 2.0, 3.0, 5.0, 4.0, 7.0, 6.0, 8.0, 9.0)
    val y = Seq(2.0, 1.0, 4.0, 3.0, 6.0, 5.0, 8.0, 9.0, 7.0, 10.0)
    val df = x.zip(y).toDF("x", "y")
    val (rho, p) = Correlation.spearmanWithP(df, "x", "y")
    assert(math.abs(rho - 0.91185831552009688) < 1e-12)
    assert(math.abs(p - 0.00023714363700506408) < 1e-12)
    val df2 = (1 to 30).map(i => (i.toDouble, (i + i % 5).toDouble)).toDF("x", "y")
    val (rho2, p2) = Correlation.spearmanWithP(df2, "x", "y")
    assert(math.abs(rho2 - 0.98754171301446048) < 1e-12)
    assert(math.abs(p2 - 4.9249985924155738e-24) < 1e-30)
    // exact monotone: rho 1 -> p 0
    val df3 = (1 to 10).map(i => (i.toDouble, i * 2.0)).toDF("x", "y")
    assert(Correlation.spearmanWithP(df3, "x", "y") == ((1.0, 0.0)))
  }

  test("spearmanMany matches per-pair spearman and guards constants") {
    val df = (1 to 20).map { i =>
      (i.toDouble, i * i.toDouble, 21.0 - i, 7.0, (i % 3).toDouble)
    }.toDF("x", "a", "b", "c", "d")
    val many = Correlation.spearmanMany(df, "x", Seq("a", "b", "c", "d"))
    assert(math.abs(many("a") - 1.0) < 1e-12)
    assert(math.abs(many("b") + 1.0) < 1e-12)
    assert(many("c").isNaN) // constant column → NaN, never DIVIDE_BY_ZERO
    assert(math.abs(many("d") - Correlation.spearman(df, "x", "d")) < 1e-12)
  }

  test("spearmanMany driver route matches the distributed route") {
    import spark.implicits._
    // ties + negative association + a constant column, both routes
    val df = Seq((1.0, 2.0, 9.0, 5.0), (2.0, 2.0, 7.0, 5.0),
      (3.0, 4.0, 7.0, 5.0), (4.0, 1.0, 3.0, 5.0), (5.0, 8.0, 1.0, 5.0))
      .toDF("x", "a", "b", "c")
    val (local, dist) = bothRoutes(Correlation.spearmanMany(df, "x", Seq("a", "b", "c")))
    for (c <- Seq("a", "b")) {
      assert(math.abs(local(c) - dist(c)) < 1e-12,
        s"$c: ${local(c)} vs ${dist(c)}")
    }
    assert(local("c").isNaN && dist("c").isNaN)
  }

  test("spearmanMany: pairwise deletion — a null in one y leaves other pairs intact") {
    // a is null on row 1, b on row 10: pairwise semantics rank (x,a)
    // over rows 2–10 and (x,b) over rows 1–9; listwise deletion would
    // drop BOTH rows from BOTH pairs (the scipy/pandas divergence the
    // round-2 advisor flagged).
    val aVals = Seq(None, Some(3.0), Some(1.0), Some(4.0), Some(1.0),
      Some(5.0), Some(9.0), Some(2.0), Some(6.0), Some(5.0))
    val bVals = Seq(Some(2.0), Some(7.0), Some(1.0), Some(8.0), Some(2.0),
      Some(8.0), Some(1.0), Some(8.0), Some(2.0), None)
    val df = (1 to 10).map(i =>
      (i.toDouble, aVals(i - 1), bVals(i - 1))).toDF("x", "a", "b")
    // expected: exact spearman over each pair's OWN non-null subset
    // (driver route on clean data = scipy ranks)
    val expA = Correlation.spearman(
      df.filter(col("a").isNotNull).select(col("x"), col("a").as("v")), "x", "v")
    val expB = Correlation.spearman(
      df.filter(col("b").isNotNull).select(col("x"), col("b").as("v")), "x", "v")
    // the fixture must actually distinguish pairwise from listwise
    val expAListwise = Correlation.spearman(
      df.filter(col("a").isNotNull && col("b").isNotNull)
        .select(col("x"), col("a").as("v")), "x", "v")
    assert(math.abs(expA - expAListwise) > 1e-9,
      "fixture too weak: pairwise == listwise")
    val dist = DriverRoute.distributed(spark)(Correlation.spearmanMany(df, "x", Seq("a", "b")))
    assert(math.abs(dist("a") - expA) < 1e-12, s"a: ${dist("a")} vs $expA")
    assert(math.abs(dist("b") - expB) < 1e-12, s"b: ${dist("b")} vs $expB")
    // nulls in the probe fall back distributed on the DEFAULT route too
    val dflt = Correlation.spearmanMany(df, "x", Seq("a", "b"))
    assert(dflt("a") == dist("a") && dflt("b") == dist("b"))
    // per-pair n feeds the p-value (9 rows each, not 10, not 8)
    val withN = Correlation.spearmanManyWithN(df, "x", Seq("a", "b"))
    assert(withN("a")._2 == 9L && withN("b")._2 == 9L)
    val (rhoA, pA) = Correlation.spearmanWithP(df, "x", "a")
    assert(rhoA == dist("a"))
    assert(pA == Correlation.spearmanPValue(rhoA, 9L))
  }

  private def byId(df: DataFrame): Map[Long, Row] =
    df.collect().map(r => r.getLong(0) -> r).toMap

  /** The broadcast route of `all` (one source sweep) against the
    * distributed route on the three BFS measures; every id in [0, n)
    * has a row on both. */
  private def assertBfsRouteParity(edges: DataFrame, n: Int): Unit = {
    val (csr, dist) = bothRoutes(byId(Centralities.all(spark, edges, n)))
    assert(csr.keySet == (0L until n).toSet && dist.keySet == csr.keySet)
    for (id <- 0L until n; c <- Seq("closeness", "betweenness", "load"))
      assert(math.abs(dist(id).getAs[Double](c) - csr(id).getAs[Double](c)) < 1e-9,
        s"$c($id) of n=$n: ${dist(id).getAs[Double](c)} vs ${csr(id).getAs[Double](c)}")
  }

  test("distributed BFS on a high-diameter path graph (visited compaction fires)") {
    // P20: diameter 19 → the every-8-levels visited compaction runs
    // twice; closed forms from the exact CSR route
    assertBfsRouteParity((0L until 19L).map(i => (i, i + 1)).toDF("src", "dst"), 20)
  }

  test("spearmanMany: range-partitioned rank route matches the window route") {
    // ties, negatives, duplicates across partitions, and a null pair
    val df = (1 to 200).map { i =>
      (i % 37 * 1.5 - 20, (i % 11).toDouble, if (i % 13 == 0) None else Some((i % 7).toDouble))
    }.toDF("x", "a", "b")
    val (window, prefix) = DriverRoute.distributed(spark) {
      (Correlation.spearmanManyWithN(df, "x", Seq("a", "b")),
        // windowRankMaxRows=0 forces the distributed prefix-sum rank
        Correlation.spearmanManyWithN(df, "x", Seq("a", "b"), windowRankMaxRows = 0))
    }
    for (c <- Seq("a", "b")) {
      assert(window(c)._2 == prefix(c)._2, s"$c n mismatch")
      assert(math.abs(window(c)._1 - prefix(c)._1) < 1e-12,
        s"$c: ${window(c)._1} vs ${prefix(c)._1}")
    }
  }

  test("bootstrap CI brackets the point estimate") {
    val df = (1 to 30).map(i => (i.toDouble, i + (i % 5).toDouble)).toDF("x", "y")
    val rho = Correlation.spearman(df, "x", "y")
    val (lo, hi) = Correlation.bootstrapCi(spark, df, "x", "y", resamples = 30)
    assert(lo <= rho && rho <= hi)
  }

  test("bootstrapCiMd5: replayable form agrees with the ridx form") {
    val df = (1 to 60).map(i =>
      (i.toLong, i.toDouble, i + (i % 6).toDouble)).toDF("id", "x", "y")
    val rho = Correlation.spearman(df, "x", "y")
    val out = Correlation.bootstrapCiMd5(df, "id", "x", "y",
      resamples = 200).collect()
    assert(out.length == 200)
    val (lo, hi) = (out.head.getDouble(2), out.head.getDouble(3))
    assert(out.forall(r => r.getDouble(2) == lo && r.getDouble(3) == hi))
    assert(lo <= rho && rho <= hi, s"[$lo,$hi] should bracket $rho")
    assert(lo < hi, "resampled rho distribution should have spread")
    // every per-resample rho is a valid correlation, and the bounds are
    // order statistics of the emitted rhos
    val rhos = out.map(_.getDouble(1)).sorted
    assert(rhos.forall(r => r >= -1.0 && r <= 1.0))
    assert(rhos(5) == lo && rhos(195) == hi)
    // the two RNG families (md5-keyed vs ridx-hash) estimate the SAME
    // sampling distribution: CIs overlap substantially
    val (lo2, hi2) = Correlation.bootstrapCi(spark, df, "x", "y",
      resamples = 200)
    assert(lo < hi2 && lo2 < hi, s"disjoint CIs: [$lo,$hi] vs [$lo2,$hi2]")
  }

  test("correlation report: matrix + CI + p per off-diagonal pair") {
    val df = (1 to 25).map { i =>
      (i.toDouble, i + (i % 4).toDouble, 26.0 - i)
    }.toDF("a", "b", "c")
    val rep = Correlation.report(spark, df, Seq("a", "b", "c"),
      resamples = 30).collect()
    assert(rep.length == 6) // 3 columns × 2 others
    rep.foreach { r =>
      val (rho, p, lo, hi) = (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
      assert(rho >= -1.0 && rho <= 1.0)
      assert(p >= 0.0 && p <= 1.0)
      assert(lo <= rho + 1e-9 && rho - 1e-9 <= hi,
        s"CI [$lo,$hi] should bracket rho=$rho")
    }
    // and it renders through the S19 markdown sink
    import graft.io.Sinks
    val md = Sinks.markdown(Correlation.report(spark, df, Seq("a", "b"),
      resamples = 10))
    assert(md.contains("| col_x |") && md.contains("| a |"))
  }

  test("centralities.all joins every measure") {
    val g = Generators.roadNetwork(spark, 3, 3)
    val all = Centralities.all(spark, g, 9)
    assert(all.count() == 9)
    assert(all.columns.toSet == Set("id", "degree_centrality", "pagerank",
      "eigenvector", "closeness", "betweenness", "load"))
  }

  /** 6-node fixture where load ≠ betweenness: node 3's predecessor DAG
    * (from source 0) has preds {1, 2} with unequal σ downstream at
    * node 5 (preds {3: σ=2, 4: σ=1}) — Brandes splits 2:1, Newman
    * splits 1:1. Constants cross-checked by an independent pure-python
    * BFS implementation of both rules. */
  private def loadFixture = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L),
    (1L, 4L), (4L, 5L), (3L, 5L)).toDF("src", "dst")

  test("load centrality: Newman equal-split, differs from betweenness") {
    val bet = Centralities.betweenness(spark, loadFixture, 6).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ld = Centralities.load(spark, loadFixture, 6).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expBet = Map(0L -> 1.0 / 12, 1L -> 1.0 / 3, 2L -> 1.0 / 12,
      3L -> 1.0 / 3, 4L -> 1.0 / 12, 5L -> 1.0 / 12)
    val expLoad = Map(0L -> 0.0875, 1L -> 0.325, 2L -> 0.0875,
      3L -> 0.325, 4L -> 0.0875, 5L -> 0.0875)
    expBet.foreach { case (k, v) => assert(math.abs(bet(k) - v) < 1e-12,
      s"betweenness($k): ${bet(k)} != $v") }
    expLoad.foreach { case (k, v) => assert(math.abs(ld(k) - v) < 1e-12,
      s"load($k): ${ld(k)} != $v") }
    // on a star they agree (every DAG node has one pred)
    val bs = Centralities.betweenness(spark, star(8), 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ls = Centralities.load(spark, star(8), 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    bs.foreach { case (k, v) => assert(math.abs(ls(k) - v) < 1e-12) }
  }

  test("distributed route (threshold 0) matches driver-CSR closed forms") {
    // closeness, betweenness and load (exact: every vertex a source) on
    // the star, the load fixture, a disconnected graph with a self-loop
    // (on 4) and an isolated vertex (6), and a BA graph
    assertBfsRouteParity(star(8), 8)
    assertBfsRouteParity(loadFixture, 6)
    assertBfsRouteParity(Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 4L),
      (4L, 5L)).toDF("src", "dst"), 7)
    assertBfsRouteParity(Generators.barabasiAlbert(spark, 60, 2, 7), 60)
    // every measure through the distributed implementations
    val (csrAll, all) = bothRoutes(byId(Centralities.all(spark, loadFixture, 6)))
    def colOf(id: Long, c: String) =
      all(id).getAs[Double](c)
    // eigenvector: same direction up to tolerance (same power iteration,
    // distributed matvec)
    for (id <- 0L until 6L)
      assert(math.abs(colOf(id, "eigenvector") -
        csrAll(id).getAs[Double]("eigenvector")) < 1e-6)
    // pagerank is now route-invariant: pageRankDistributed runs the
    // same nx damped power iteration as pageRankCsr
    for (id <- 0L until 6L)
      assert(math.abs(colOf(id, "pagerank") -
        csrAll(id).getAs[Double]("pagerank")) < 1e-6,
        s"pagerank($id): ${colOf(id, "pagerank")} vs " +
          s"${csrAll(id).getAs[Double]("pagerank")}")
    val prSum = (0L until 6L).map(colOf(_, "pagerank")).sum
    assert(math.abs(prSum - 1.0) < 1e-6)
    // isolated-vertex (dangling) handling matches the CSR recurrence:
    // a 2-path plus an isolated vertex
    val dangling = Seq((0L, 1L)).toDF("src", "dst")
    val (dcsr, ddist) = bothRoutes(Centralities.all(spark, dangling, 3).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("pagerank")).toMap)
    for (id <- 0L until 3L)
      assert(math.abs(dcsr(id) - ddist(id)) < 1e-9,
        s"dangling pagerank($id): ${ddist(id)} vs ${dcsr(id)}")
  }

  test("personalizedPageRank: exact dyadic closed form on the star") {
    // star 0-{1,2,3,4}, seed {0}, alpha=0.5, 2 iters — all values are
    // powers of two, so the float fold is EXACT:
    // x1(0)=.5, x1(leaf)=.125; x2(0)=.75, x2(leaf)=.0625
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val x = Centralities.personalizedPageRank(spark, star, Seq(0L),
      alpha = 0.5, iters = 2)
    val m = x.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(0L) == 0.75)
    (1L to 4L).foreach(v => assert(m(v) == 0.0625, s"leaf $v: ${m(v)}"))
    x.unpersist()
  }

  test("personalizedPageRank: support stays inside the k-hop ball of the seeds") {
    val path = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val x = Centralities.personalizedPageRank(spark, path, Seq(0L), iters = 2)
    val ids = x.filter(col("ppr") > 0).select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 2L), s"2-hop support expected, got $ids")
    x.unpersist()
  }

  test("personalizedPageRank: hub-segmented arrays reproduce the unchunked run") {
    // r15 verdict #5 scale-proofing: with the chunk cap forced below
    // the hub degree, the adjacency build takes the degree-probe +
    // chunked route (the star center splits into ceil(8/3)=3 chunk
    // rows) and the result must equal the unchunked run — same term
    // multiset per vertex, same (1−α)s + α·Σ fold. The star uses
    // dyadic values so both runs are EXACT, not merely close.
    val hub = ((1L to 8L).map(l => (0L, l)) :+ (1L, 9L)).toDF("src", "dst")
    val base = Centralities.personalizedPageRank(spark, hub, Seq(0L),
      alpha = 0.5, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val key = "spark.graft.adjMaxChunk"
    spark.conf.set(key, "3")
    try {
      val chunked = Centralities.personalizedPageRank(spark, hub, Seq(0L),
        alpha = 0.5, iters = 2).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(chunked == base, s"chunked=$chunked base=$base")
    } finally spark.conf.unset(key)
  }

  test("personalizedPageRank: a multigraph hub's duplicate arcs respect the chunk cap") {
    // hub 0 carries (0,1)×4 and (0,2)×3: a chunk picked by a hash of dst
    // would put all four (0,1) arcs into one chunk of a cap-3 split
    val hub = (Seq.fill(4)((0L, 1L)) ++ Seq.fill(3)((0L, 2L)) ++
      Seq((0L, 3L), (3L, 4L))).toDF("src", "dst")
    val arrays = Centralities.adjacencyChunks(spark, hub, 2L * hub.count(), 3)
    val rows = arrays.collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    arrays.unpersist()
    assert(rows.forall(_._2.size <= 3), rows.mkString(", "))
    assert(rows.count(_._1 == 0L) == 3 && rows.filter(_._1 == 0L).forall(_._3 == 8L))
    assert(rows.filter(_._1 == 0L).flatMap(_._2).sorted.toSeq ==
      (Seq.fill(4)(1L) ++ Seq.fill(3)(2L) :+ 3L))
    val base = Centralities.personalizedPageRank(spark, hub, Seq(0L, 4L), iters = 3)
    val baseM = base.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    base.unpersist()
    val key = "spark.graft.adjMaxChunk"
    spark.conf.set(key, "3")
    try {
      val chunked = Centralities.personalizedPageRank(spark, hub, Seq(0L, 4L), iters = 3)
      val m = chunked.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      chunked.unpersist()
      assert(m.keySet == baseM.keySet)
      m.foreach { case (k, v) => assert(math.abs(v - baseM(k)) < 1e-12, s"$k: $v vs ${baseM(k)}") }
    } finally spark.conf.unset(key)
  }

  test("centralities.all: bit-identical across shuffle widths and edge partitionings") {
    // the broadcast route's doubles are a function of the edge multiset
    // alone: neither the collect order of the edges nor the session's
    // shuffle width may move a bit
    val g = GraphOps.undirect(Generators.barabasiAlbert(spark, 120, 3, 11)).persist()
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def run(edgeParts: Int, width: Int): Seq[Seq[Long]] = {
      spark.conf.set(key, width.toString)
      try Centralities.all(spark, g.repartition(edgeParts), 120).collect()
        .sortBy(_.getLong(0)).toSeq
        .map(r => r.getLong(0) +: (1 until r.length).map(i =>
          java.lang.Double.doubleToLongBits(r.getDouble(i))))
      finally spark.conf.set(key, prev)
    }
    val (a, b) = (run(1, 1), run(5, 7))
    g.unpersist()
    assert(a.length == 120 && a == b)
  }

  test("centralities.all broadcast route: at most 4 jobs and no shuffle") {
    // the edge count, the CSR collect, the source sweep and at most one
    // materialization: a per-measure job or a shuffle fold coming back
    // fails here
    val g = Generators.barabasiAlbert(spark, 200, 3, 5).persist()
    g.count()
    val sc = spark.sparkContext
    val (group, fence) = ("centralities-all", "centralities-all-fence")
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val fenceJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(e.jobId); e.stageIds.foreach(stages.add(_))
          case Some(`fence`) => fenceJob.set(e.jobId)
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten +
            e.taskMetrics.shuffleReadMetrics.totalBytesRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceJob.get) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "broadcast-route centralities")
      val rows = try Centralities.all(spark, g, 200).collect() finally sc.clearJobGroup()
      assert(rows.length == 200)
      // listener events arrive in order: once a later job has ended,
      // every event of the group's jobs has been seen
      sc.setJobGroup(fence, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.size <= 4, s"${jobs.size} jobs")
      assert(shuffleBytes.get == 0L, s"${shuffleBytes.get} shuffle bytes")
    } finally { sc.removeSparkListener(listener); g.unpersist() }
  }

  test("personalizedPageRank: multi-seed mass splits and stays <= 1") {
    val g = Generators.caveman(spark, 2, 4)
    val x = Centralities.personalizedPageRank(spark, g, Seq(0L, 4L), iters = 3)
    val total = x.agg(sum(col("ppr"))).collect()(0).getDouble(0)
    assert(total > 0.5 && total <= 1.0 + 1e-12, s"mass $total")
    // disjoint cliques: each seed's mass stays in its own clique
    val byClique = x.collect().map(r => (r.getLong(0) / 4, r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(math.abs(byClique(0L) - byClique(1L)) < 1e-12)
    x.unpersist()
  }

  test("harmonicDistributed: exact closed forms on path and disconnected graphs") {
    // path 0-1-2: ends 1 + 1/2 = 1.5, middle 1 + 1 = 2
    val path = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val h = Centralities.harmonicDistributed(spark, path, n = 3)
    val m = h.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(0L) == 1.5 && m(2L) == 1.5 && m(1L) == 2.0)
    h.unpersist()
    // two disjoint edges: every vertex sees exactly its one neighbor
    val two = Seq((0L, 1L), (2L, 3L)).toDF("src", "dst")
    val h2 = Centralities.harmonicDistributed(spark, two, n = 4)
    assert(h2.collect().forall(_.getDouble(1) == 1.0))
    h2.unpersist()
    // route parity: the distributed multi-source BFS (the 100 TB
    // path) emits the identical frame as the size-guarded driver
    // route above (exact dyadic values on the path fixture)
    val hd = DriverRoute.distributed(spark)(Centralities.harmonicDistributed(spark, path, n = 3))
    val md = hd.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(md == Map(0L -> 1.5, 1L -> 2.0, 2L -> 1.5))
    hd.unpersist()
  }
}
