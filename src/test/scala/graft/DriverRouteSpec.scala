package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.CacheBridge
import graft.gen.Generators
import graft.influence.Influence
import graft.layout.{Layout, LayoutConfig}
import graft.linalg.EigenInit
import graft.metrics.Centralities
import graft.model.GraphOps
import graft.util.DriverRoute

/** The edge memo of [[DriverRoute.probePairs]]: what it keeps, for how
  * long, and the jobs the paper pipeline runs through it. */
class DriverRouteSpec extends SparkSpec {
  import spark.implicits._

  private def shuffled(n: Int): DataFrame =
    scala.util.Random.shuffle((0 until n).map(i => ((i * 7L) % 13, i.toLong)))
      .toDF("src", "dst").repartition(3)

  private def probe(df: DataFrame, cap: Long) =
    countingJobs(DriverRoute.probePairs(df, "src", "dst", cap))

  /** Whether `df` takes the driver route. */
  private def routed(df: DataFrame): Boolean =
    DriverRoute.probePairs(df, "src", "dst", 100).isDefined

  test("probePairs: pairs sorted by (src, dst), persisted or not") {
    val df = shuffled(40)
    val want = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(identity).toSeq
    assert(DriverRoute.probePairs(df, "src", "dst", 100).get.toSeq == want)
    df.persist()
    try {
      assert(DriverRoute.probePairs(df, "src", "dst", 100).get.toSeq == want)
      assert(DriverRoute.probePairs(df, "src", "dst", 100).get.toSeq == want)
    } finally df.unpersist()
  }

  test("memo: a persisted frame is collected once; a smaller cap is None with no job") {
    val df = shuffled(30).persist()
    try {
      val (first, jobs1) = probe(df, 100)
      assert(first.get.length == 30 && jobs1 >= 1)
      val (second, jobs2) = probe(df, 30)
      assert(jobs2 == 0 && second.get.toSeq == first.get.toSeq)
      val (under, jobs3) = probe(df, 29)
      assert(under.isEmpty && jobs3 == 0)
    } finally df.unpersist()
  }

  test("memo: unpersist drops the entry; the next probe runs a job") {
    val df = shuffled(20).persist()
    probe(df, 100)
    val buffers = CacheBridge.cachedBuffers(df).get
    assert(DriverRoute.memoKeys.contains(buffers))
    df.unpersist(blocking = true)
    val (after, jobs) = probe(df, 100)
    assert(after.get.length == 20 && jobs >= 1)
    assert(!DriverRoute.memoKeys.contains(buffers))
    // a re-persist is a new entry
    df.persist()
    try {
      probe(df, 100)
      val again = CacheBridge.cachedBuffers(df).get
      assert((again ne buffers) && DriverRoute.memoKeys.contains(again))
    } finally df.unpersist()
  }

  test("memo: an unpersisted frame is never retained") {
    val df = shuffled(25)
    val before = DriverRoute.memoKeys.toSet
    val (a, jobsA) = probe(df, 100)
    val (b, jobsB) = probe(df, 100)
    assert(a.get.toSeq == b.get.toSeq && jobsA >= 1 && jobsB >= 1)
    assert(DriverRoute.memoKeys.toSet == before)
  }

  test("memo: a probe over its cap keeps nothing; a larger cap then collects") {
    val df = shuffled(30).persist()
    try {
      val (over, jobs1) = probe(df, 10)
      assert(over.isEmpty && jobs1 >= 1)
      assert(!DriverRoute.memoKeys.contains(CacheBridge.cachedBuffers(df).get))
      val (fits, jobs2) = probe(df, 30)
      assert(fits.get.length == 30 && jobs2 >= 1)
      val (hit, jobs3) = probe(df, 1000)
      assert(hit.get.toSeq == fits.get.toSeq && jobs3 == 0)
    } finally df.unpersist()
  }

  test("over its cap, a loaded persisted frame is None with no job and no collect") {
    val df = shuffled(30).persist()
    try {
      df.count()
      val (over, jobs) = probe(df, 10)
      assert(over.isEmpty && jobs == 0)
      assert(!DriverRoute.memoKeys.contains(CacheBridge.cachedBuffers(df).get))
      val (at, jobsAt) = countingJobs(DriverRoute.rowsAtMost(df, 30))
      assert(at && jobsAt == 0 && !DriverRoute.rowsAtMost(df, 29))
    } finally df.unpersist()
  }

  test("rowsAtMost: an unpersisted frame over the cap is counted, not collected") {
    // the task results of a collect would hold every row (≥ 16 B each);
    // a count's hold one number per task
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val rows = 200000L
    val df = spark.range(rows).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.resultSize))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (fits, jobs) = countingJobs(DriverRoute.rowsAtMost(df, rows - 1))
      assert(!fits && jobs == 1)
      assert(bytes.get < 100000L, s"${bytes.get} result bytes")
      assert(countingJobs(DriverRoute.rowsAtMost(df, rows))._1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("distributed: every probe of a persisted frame is None with no job and no memo entry") {
    val df = shuffled(30).persist()
    try {
      df.count()
      val before = DriverRoute.memoKeys.toSet
      val (answers, jobs) = countingJobs(DriverRoute.distributed(spark) {
        Seq(DriverRoute.probePairs(df, "src", "dst", 100).isEmpty,
          DriverRoute.probeIdPairs(df, "src", "dst", 100).isEmpty,
          DriverRoute.probeRows(df, 100).isEmpty,
          !DriverRoute.rowsAtMost(df, 100))
      })
      assert(answers.forall(identity) && jobs == 0)
      assert(DriverRoute.memoKeys.toSet == before)
      // a memoized frame is None too, and keeps its entry for later
      assert(probe(df, 100)._1.isDefined)
      val (memoized, jobsM) = countingJobs(DriverRoute.distributed(spark)(
        DriverRoute.probePairs(df, "src", "dst", 100)))
      assert(memoized.isEmpty && jobsM == 0)
      assert(probe(df, 100)._2 == 0)
    } finally df.unpersist()
  }

  test("distributed: the scope reaches both arms of Concurrent.all") {
    val df = shuffled(20)
    val arms = DriverRoute.distributed(spark)(
      graft.util.Concurrent.all(spark)(() => routed(df), () => routed(df)))
    assert(arms == Seq(false, false))
    assert(graft.util.Concurrent.all(spark)(() => routed(df), () => routed(df)) == Seq(true, true))
  }

  test("distributed: restored after its body throws; nested scopes restore the outer one") {
    val df = shuffled(20)
    intercept[IllegalStateException](
      DriverRoute.distributed(spark)(throw new IllegalStateException("body")))
    assert(routed(df))
    DriverRoute.distributed(spark) {
      assert(!DriverRoute.distributed(spark)(routed(df)))
      assert(!routed(df))
    }
    assert(routed(df))
  }

  test("GraphEm.close releases the edges from the cache and the memo") {
    val em = graft.api.GraphEm(spark, Generators.roadNetwork(spark, 4, 4),
      LayoutConfig(nComponents = 2, LMin = 1.0, numIterations = 2, sampleSize = 8,
        nNeighbors = 3, seed = 5))
    em.runLayout()
    val buffers = CacheBridge.cachedBuffers(em.edges).get
    assert(DriverRoute.memoKeys.contains(buffers))
    em.close()
    assert(CacheBridge.cachedBuffers(em.edges).isEmpty)
    assert(!DriverRoute.memoKeys.contains(buffers))
  }

  test("paper pipeline on one persisted frame runs at most 6 jobs") {
    // eigen init, layout, seeds, cascade and centralities all read the
    // edges through the memo: one collect of the graph, not one per stage
    val n = 200
    val edges = GraphOps.undirect(Generators.barabasiAlbert(spark, n, 3, 17)).persist()
    edges.count()
    try {
      val (spread, jobs) = countingJobs {
        val init = EigenInit.init(spark, edges, n, 3, 17)
        val pos = Layout.run(spark, edges, init,
          LayoutConfig(LMin = 4.0, numIterations = 5, seed = 17))
        val seeds = Influence.selectSeeds(pos, 10).collect().map(_.getLong(0))
        val spread = Influence.independentCascade(spark, edges, seeds.toSeq.toDF("id"),
          0.1, seed = 17).collect().length
        assert(Centralities.all(spark, edges, n).collect().length == n)
        spread
      }
      assert(spread >= 10)
      assert(jobs <= 6, s"$jobs jobs")
    } finally edges.unpersist()
  }
}
