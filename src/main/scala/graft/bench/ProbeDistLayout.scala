package graft.bench

import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import graft.gen.Generators
import graft.layout.{Layout, LayoutConfig}
import graft.linalg.EigenInit
import graft.util.DriverRoute

/** The forced-distributed layout alone, on Bench tier 2c's graph and
  * config (BA n=4039, attach 22, LMin=4.0, 30 iterations, 4 shuffle
  * partitions), `legs` times back-to-back in one JVM — same binary, so
  * any spread between legs is host/JIT variance, not code. The graph and
  * its eigen init are built and materialized before the clock starts.
  * Per leg it prints the wall time, the Spark jobs and completed stages
  * the layout ran, and its jobs per iteration: the jobs beyond those of
  * a 0-iteration run, over the iteration count.
  *
  * Usage: runMain graft.bench.ProbeDistLayout [legs]
  */
object ProbeDistLayout {
  def main(args: Array[String]): Unit = {
    val legs = args.headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cfg = LayoutConfig(nComponents = 3, LMin = 4.0, numIterations = 30,
      sampleSize = 256, nNeighbors = 10, seed = 42)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    val fenced = new Semaphore(0)
    @volatile var fenceJob = -1
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains("fence"))
          fenceJob = e.jobId
        else jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceJob) fenced.release()
    })
    // (seconds, jobs, stages) of `body`; listener events arrive in order,
    // so once a later job has ended every event of the body has been seen
    def measured(body: => Unit): (Double, Int, Int) = {
      val (j0, s0) = (jobs.get, stages.get)
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      sc.setJobGroup("fence", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      fenced.tryAcquire(60, TimeUnit.SECONDS)
      (dt, jobs.get - j0, stages.get - s0 - 1) // the fence ran one stage
    }
    val g = Generators.barabasiAlbert(spark, 4039, 22, 42).cache()
    val m = g.count()
    val init = EigenInit.init(spark, g, 4039, 3, 42).persist()
    init.count()
    def layout(c: LayoutConfig) = measured(DriverRoute.distributed(spark)(
      Layout.run(spark, g, init, c).count()))
    val (_, fixed, _) = layout(cfg.copy(numIterations = 0))
    for (leg <- 1 to legs) {
      val (dt, j, s) = layout(cfg)
      println(f"[dist-layout] leg $leg n=4039 m=$m wall=$dt%.1fs jobs=$j stages=$s " +
        f"jobs/iter=${(j - fixed).toDouble / cfg.numIterations}%.2f")
    }
    spark.stop()
  }
}
