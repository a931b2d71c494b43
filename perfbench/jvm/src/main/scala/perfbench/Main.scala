package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import Stats.median

/** Command-line options; see `perfbench/run.py`, which builds them. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cpus: Int, data: String, work: String, record: String,
                      spawnMs: Long)

object Opts {
  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cpus").toInt, m("data"), m("work"), m("record"), m("spawn-ms").toLong)
  }
}

/** One unit of work: the paper pipeline once, or one session's passes
  * over a query list. A `warmup` unit is left out of the medians.
  * `phases` are the unit's two phase times (seed selection and
  * evaluation, or the cold and the warm pass); `values` holds every phase
  * time and counter by name. */
final case class UnitResult(index: Int, warmup: Boolean, traced: Boolean, resultS: Double,
                            phases: (Double, Double), cpuS: Double, retainedMb: Double,
                            values: Map[String, Double])

/** What a unit of work hands back: its phase times and counters, and the
  * check of its outputs, which runs after the clock stops. */
final case class Timed(phases: (Double, Double), values: Map[String, Double],
                       check: () => Unit)

/** `unitS` is the nominal length of one unit on a 4-core host: a run
  * measures round(--seconds / unitS) units, so every run of a workload
  * measures the same units however fast the tree under test is. Before
  * them, `warmups` units warm the JIT up. */
sealed trait Workload { def unitS: Double; def warmups: Int }
final case class Embed(size: EmbedSize, unitS: Double, warmups: Int) extends Workload
final case class QueryPasses(queries: Seq[String], passes: Seq[String], unitS: Double,
                             warmups: Int) extends Workload

object Workloads {
  // A pipeline still ran ≈ 15 % slower in its second unit than in its
  // fourth, so embed_local warms up for two; a query unit is long enough
  // that one suffices.
  val all: Map[String, Workload] = Map(
    "embed_local" -> Embed(EmbedSize(n = 400, attach = 22, iters = 30), unitS = 4.5,
      warmups = 2),
    "query_mix" -> QueryPasses(Queries.mix, Queries.passes, unitS = 10.0, warmups = 1))

  /** The seed whose outputs `expected.txt` pins exactly. */
  val pinnedSeed = 42L
}

/** Progress lines on stderr, stamped with seconds since the JVM started. */
object Log {
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - t0) / 1e3}%.1fs] $msg")
}

/** Files the queries create under the JVM's temp directory (index
  * directories, manifests), the write path's footprint. */
object TempFiles {
  private def roots: Seq[java.io.File] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .map(_.toSeq.filter(_.getName.startsWith("graft_"))).getOrElse(Nil)

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    else Seq(f)

  /** (bytes, files) under the query-created temp directories. */
  def written(): (Long, Long) = {
    val files = roots.flatMap(walk)
    (files.map(_.length).sum, files.size.toLong)
  }

  def clear(): Unit = roots.foreach(deleteTree)

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val code =
      try new Harness(Opts.parse(argv)).run()
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }
}

final class Harness(o: Opts) {
  private val workload = Workloads.all.getOrElse(o.workload,
    sys.error(s"unknown workload ${o.workload}; one of ${Workloads.all.keys.mkString(", ")}"))
  private val sfDir = s"${o.data}/sf0.01"
  private val tracer = new Tracer
  private val expected: Map[String, String] = {
    val p = Paths.get(o.data).getParent.resolve("expected.txt")
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap
  }
  /** The outputs this run saw, in the format of `expected.txt`; written
    * to `outputs.txt` in the run directory, so pins can be refreshed
    * deliberately after an intended output change. */
  private val outputs = mutable.LinkedHashMap[String, String]()
  private var attempted = 0L
  private var failed = 0L
  private val processCpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    Log(s"FAILED $what")
    e.printStackTrace()
  }

  private def startSession(): SparkSession = {
    val s = SparkSession.builder().master(s"local[${o.cpus}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Pipeline.materialize(graft.SparkEntry.queries("q02_agg_pricing")(s, s"${o.data}/sf0.001"))
    s
  }

  def run(): Int = {
    Files.createDirectories(Paths.get(o.work))
    val spark = startSession()
    // from the JVM's launch, so it counts class loading and the cold JIT
    val setupS = (System.currentTimeMillis() - o.spawnMs) / 1e3
    Log(s"set up: $setupS s")
    val codegen = CodegenAppender.install()
    val recorder = new Recorder
    val units = ArrayBuffer[UnitResult]()
    // Tracing alternates traced and untraced units after the warm-up, so
    // one run yields the layer table and the tracing overhead.
    val measured = math.max(if (o.trace) 2 else 1, math.round(o.seconds / workload.unitS).toInt)
    while (units.size < workload.warmups + measured) {
      val i = units.size
      val warmup = i < workload.warmups
      val traced = o.trace && !warmup && (i - workload.warmups) % 2 == 0
      tracer.run = i
      if (traced) spark.sparkContext.addSparkListener(recorder)
      units += measure(spark, i, warmup, traced)
      Log(s"unit $i done: ${units.last.values}")
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
      }
    }
    Log("summarizing")
    val record = summarize(spark, setupS, units.toSeq, recorder, codegen)
    Files.writeString(Paths.get(o.record), record + "\n")
    if (o.trace) Files.write(Paths.get(o.work, "spans.jsonl"), tracer.toJsonLines.asJava)
    Files.write(Paths.get(o.work, "outputs.txt"),
      outputs.map { case (k, v) => s"$k $v" }.toSeq.asJava)
    spark.stop()
    0
  }

  /** Runs one unit of work between two full collections, reading process
    * CPU and the heap the unit leaves behind. The unit's outputs are
    * checked after the CPU reading. */
  private def measure(spark: SparkSession, i: Int, warmup: Boolean,
                      traced: Boolean): UnitResult = {
    System.gc()
    val cpu0 = processCpu.getProcessCpuTime
    val jit0 = jit.getTotalCompilationTime
    tracer.enabled = traced
    val timed =
      try tracer.span("unit") {
        workload match {
          case e: Embed => embedUnit(spark, e.size)
          case q: QueryPasses => queryUnit(spark, q.queries, q.passes, i)
        }
      } finally tracer.enabled = false
    val cpuS = (processCpu.getProcessCpuTime - cpu0) / 1e9
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    timed.check()
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val (p1, p2) = timed.phases
    UnitResult(i, warmup, traced, p1 + p2, timed.phases, cpuS, retainedMb,
      timed.values + ("jit_s" -> jitS))
  }

  private def embedUnit(spark: SparkSession, size: EmbedSize): Timed = {
    attempted += 1
    val (out, total, seedsAt) = Pipeline.run(spark, size, o.seed, tracer)
    Timed((seedsAt, total - seedsAt), Map("pipeline_s" -> total, "seeds_s" -> seedsAt), () =>
      try {
        val problems = Check.embedInvariants(out, size) ++ pinnedEmbed(out)
        if (problems.nonEmpty) throw new AssertionError(problems.mkString("; "))
      } catch { case e: Throwable => fail(s"${o.workload} seed ${o.seed} output check", e) }
      finally out.release())
  }

  /** Exact seeds and spread, and ρ within a tolerance, on the pinned seed. */
  private def pinnedEmbed(out: EmbedOut): Seq[String] = {
    val key = s"${o.workload}.${o.seed}"
    outputs(s"$key.seeds") = out.seeds.mkString(",")
    outputs(s"$key.spread") = out.spread.toString
    out.rho.foreach { case (m, r) => outputs(s"$key.rho.$m") = r.toString }
    if (o.seed != Workloads.pinnedSeed) Nil
    else {
      def check(k: String, got: String)(same: (String, String) => Boolean) =
        expected.get(k) match {
          case None => (false, s"expected.txt lacks $k")
          case Some(want) => (same(got, want), s"$k: got $got, want $want")
        }
      val tol = expected.get("rho.tolerance").map(_.toDouble).getOrElse(0.0)
      Seq(check(s"$key.seeds", out.seeds.mkString(","))(_ == _),
        check(s"$key.spread", out.spread.toString)(_ == _)) ++
        out.rho.toSeq.map { case (m, r) => check(s"$key.rho.$m", r.toString)(
          (g, w) => math.abs(g.toDouble - w.toDouble) <= tol) }
    }.collect { case (false, msg) => msg }
  }

  private def queryUnit(base: SparkSession, queries: Seq[String], passes: Seq[String],
                        i: Int): Timed = {
    // a cold pass starts from nothing cached: drop every cached plan and
    // RDD left by an earlier unit, then open a session with empty memos
    base.catalog.clearCache()
    base.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    TempFiles.clear()
    val spark = base.newSession()
    val values = mutable.LinkedHashMap[String, Double]()
    val results = mutable.LinkedHashMap[(String, String), DataFrame]()
    val times = passes.zipWithIndex.map { case (pass, pi) =>
      val order = new scala.util.Random(o.seed * 1000003L + pi).shuffle(queries)
      val t0 = System.nanoTime()
      tracer.span(pass) {
        order.foreach { q =>
          attempted += 1
          val tq = System.nanoTime()
          tracer.span(s"$pass/${Queries.moduleOf(q)}/$q") {
            try {
              val df = Queries.fn(q)(spark, sfDir)
              Pipeline.materialize(df)
              results((pass, q)) = df
            } catch { case e: Throwable => fail(s"$q ($pass pass)", e) }
          }
          values(s"$pass/$q") = (System.nanoTime() - tq) / 1e9
          Log(f"unit $i $pass $q ${values(s"$pass/$q")}%.3f s")
        }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      values(s"${pass}_s") = dt
      values(s"${pass}_storage_mb") = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)
      dt
    }
    val (bytes, files) = TempFiles.written()
    values("tmp_written_mb") = bytes / (1024.0 * 1024.0)
    values("tmp_files") = files.toDouble
    // every result of every pass is collected again and checked; a
    // result of the cold pass reads the memos that pass built
    val check = () => results.foreach { case ((pass, q), df) =>
      try {
        val (rows, sha) = Check.digest(df)
        val got = s"$rows $sha"
        outputs(q) = got
        val want = expected.getOrElse(q, sys.error(s"expected.txt lacks $q"))
        if (got != want) throw new AssertionError(s"$q digest $got != $want")
      } catch { case e: Throwable => fail(s"$q output check ($pass pass, unit $i)", e) }
    }
    Timed((times(0), times(1)), values.toMap, check)
  }

  private def summarize(spark: SparkSession, setupS: Double, units: Seq[UnitResult],
                        rec: Recorder, codegen: CodegenAppender): String = {
    val plain = units.filter(u => !u.traced && !u.warmup)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!o.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("result_s") = (median(plain.map(_.resultS)), "s")
      metrics("phase1_s") = (median(plain.map(_.phases._1)), "s")
      metrics("phase2_s") = (median(plain.map(_.phases._2)), "s")
      metrics("cpu_s") = (median(plain.map(_.cpuS)), "s")
      metrics("heap_retained_mb") = (median(plain.map(_.retainedMb)), "MB")
    } else {
      Layers.derive(tracer, units, rec, codegen, o.work).foreach {
        case (k, v) => metrics(k) = v
      }
    }
    val samples = Map(
      "setup_s" -> Seq(setupS),
      "result_s" -> plain.map(_.resultS),
      "phase1_s" -> plain.map(_.phases._1),
      "phase2_s" -> plain.map(_.phases._2),
      "cpu_s" -> plain.map(_.cpuS),
      "heap_retained_mb" -> plain.map(_.retainedMb)) ++
      plain.flatMap(_.values.keys).distinct.map(k => k -> plain.map(_.values(k)))
    Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }.to(scala.collection.immutable.ListMap),
      "workload" -> o.workload,
      "seed" -> o.seed,
      "seconds" -> o.seconds,
      "trace" -> o.trace,
      "units" -> units.size,
      "warmup_units" -> units.filter(_.warmup).map(_.values),
      "samples" -> samples.map { case (k, v) => k -> (v.toSeq: Seq[Double]) },
      "medians" -> samples.map { case (k, v) => k -> median(v.toSeq) },
      "fail_ratio" -> failed.toDouble / math.max(1L, attempted),
      "cpus" -> o.cpus,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version)
  }
}
