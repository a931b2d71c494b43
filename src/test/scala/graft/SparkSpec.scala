package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // bucketed-table tests write managed tables — keep them in target/
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** Shared suite base.
  *
  * EXPECTED `WARN WindowExec: No Partition Defined` SOURCES (r9
  * verdict #8 — this note is the "explained" list; a warning from any
  * OTHER source in an `sbt test` log is signal, not noise). Every
  * deliberate global window in production code runs over a frame
  * whose size is BOUNDED by construction, each documented at its
  * definition and — where a query exercises it — PlanSpec-pinned to
  * sit above the bounding aggregate (q105's `Exchange SinglePartition`
  * assertion is the pattern):
  *
  *  - Spearman/correlation rank windows (Correlation.scala): the
  *    WINDOW route of the dual-route design — the comparison twin the
  *    range-partitioned production route is spec-equated against, and
  *    the per-variable rank frames are column-distinct-bounded;
  *  - bounded global ranks over aggregated frames: q105 ntile over
  *    per-customer aggregates, q85 rolling over daily aggregates,
  *    top-k vocab/ngram cuts (TextAnalysis), skyline price groups,
  *    greedy trajectories (kCenter, q39) — all ≤ group-count rows;
  *  - id-remap / dense-index windowed route (Graph.scala:53): the
  *    small-graph route; the zipWithIndex distributed route is the
  *    scale path and spec-equated;
  *  - bootstrap/quantile replays and closed-form test fixtures that
  *    deliberately compare a distributed operator against a naive
  *    single-partition formulation (these fixtures define a constant
  *    partition where possible — the partitionBy(lit(0)) idiom).
  */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** This suite's temp root, made on first use; `afterAll` deletes it. */
  private var tempRoot: Option[java.nio.file.Path] = None

  /** A new directory under the suite's temp root. */
  def tempDir(prefix: String): java.nio.file.Path = synchronized {
    val root = tempRoot.getOrElse {
      val r = java.nio.file.Files.createTempDirectory(s"graft_${getClass.getSimpleName}_")
      tempRoot = Some(r)
      r
    }
    java.nio.file.Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try synchronized {
      tempRoot.foreach(r => org.apache.commons.io.FileUtils.deleteDirectory(r.toFile))
      tempRoot = None
    } finally super.afterAll()

  /** The `CodegenFallback` expressions (by class name) in `df`'s executed
    * plan, AQE stages included: whole-stage codegen evaluates each of
    * them interpreted. */
  def codegenFallbacks(df: DataFrame): Seq[String] =
    SparkSpec.planHelper.flatMap(df.queryExecution.executedPlan)(
      _.expressions.flatMap(_.collect { case e: CodegenFallback => e.getClass.getSimpleName }))

  /** `body` at the default route caps, then inside
    * [[graft.util.DriverRoute.distributed]]: (routed, distributed). The
    * route is chosen when an operator is called, so a body may return a
    * lazy frame. */
  def bothRoutes[A](body: => A): (A, A) =
    (body, graft.util.DriverRoute.distributed(spark)(body))

  /** `body`'s value and the number of Spark jobs it started (counted
    * by job group, so jobs of other threads do not count). */
  def countingJobs[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val fenceJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(e.jobId)
          case Some(`fence`) => fenceJob.set(e.jobId)
          case _ => ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceJob.get) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      // listener events arrive in order: once a later job has ended,
      // every event of the group's jobs has been seen
      sc.setJobGroup(fence, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.size)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  private val planHelper = new AdaptiveSparkPlanHelper {}

  /** The command that runs `main` in a fresh JVM with this test JVM's
    * classpath and the JDK-17 --add-opens set sbt forks tests with. */
  def childJvm(main: String, jvmArgs: Seq[String],
               args: Seq[String]): Seq[String] = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    Seq(s"${System.getProperty("java.home")}/bin/java") ++ addOpens ++
      jvmArgs ++ Seq("-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"), main) ++ args
  }
}
