package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, derived from its spans and the
  * scheduler events inside them. A layer a workload does not call reads
  * 0. Each metric is the median over the run's traced units. */
object Layers {
  private val zero = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  private def sum(cs: Seq[Counters]): Counters = cs.foldLeft(zero) { (a, b) =>
    Counters(a.wall + b.wall, a.jobs + b.jobs, a.stages + b.stages, a.tasks + b.tasks,
      a.taskCpu + b.taskCpu, a.gc + b.gc, a.shuffleMb + b.shuffleMb,
      a.spillMb + b.spillMb, a.writtenMb + b.writtenMb, a.records + b.records,
      a.driver + b.driver, a.codegenFallbacks + b.codegenFallbacks)
  }

  /** (name, unit, value) of every per-layer metric for one traced unit. */
  private def ofUnit(tracer: Tracer, u: UnitResult, rec: Recorder,
                     app: CodegenAppender): Seq[(String, String, Double)] = {
    def value(k: String) = u.values.getOrElse(k, 0.0)
    val spans = tracer.spans.filter(_.run == u.index).toSeq
    val root = spans.find(_.name == "unit").get
    def c(prefixes: String*): Counters = sum(spans
      .filter(s => prefixes.exists(p => s.name == p || s.name.startsWith(p + "/")))
      .map(Counters.of(_, rec, app)))
    val all = Counters.of(root, rec, app)
    val gen = c("gen"); val linalg = c("linalg"); val layout = c("layout")
    val seeds = c("influence.seeds"); val ic = c("influence.ic")
    val infl = sum(Seq(seeds, ic))
    val cent = c("metrics.centralities"); val spear = c("metrics.spearman")
    val met = sum(Seq(cent, spear))
    val children = spans.filter(_.parent == root.id).map(_.seconds).sum
    Seq(
      ("gen.wall_s", "s", gen.wall),
      ("linalg.wall_s", "s", linalg.wall),
      ("linalg.jobs", "count", linalg.jobs.toDouble),
      ("linalg.driver_s", "s", linalg.driver),
      ("layout.wall_s", "s", layout.wall),
      ("layout.jobs", "count", layout.jobs.toDouble),
      ("layout.tasks", "count", layout.tasks.toDouble),
      ("layout.task_cpu_s", "s", layout.taskCpu),
      ("layout.driver_s", "s", layout.driver),
      ("layout.shuffle_mb", "MB", layout.shuffleMb),
      ("influence.seeds_s", "s", seeds.wall),
      ("influence.ic_s", "s", ic.wall),
      ("influence.jobs", "count", infl.jobs.toDouble),
      ("influence.driver_s", "s", infl.driver),
      ("metrics.centralities_s", "s", cent.wall),
      ("metrics.spearman_s", "s", spear.wall),
      ("metrics.task_cpu_s", "s", met.taskCpu),
      ("metrics.gc_s", "s", met.gc),
      ("metrics.jobs", "count", met.jobs.toDouble),
      ("metrics.shuffle_mb", "MB", met.shuffleMb),
      ("metrics.spill_mb", "MB", met.spillMb)) ++
    (for (pass <- Queries.passes; (m, _) <- Queries.modules) yield {
      val q = c(s"$pass/$m")
      Seq(
        (s"$m.$pass.wall_s", "s", q.wall),
        (s"$m.$pass.task_cpu_s", "s", q.taskCpu),
        (s"$m.$pass.jobs", "count", q.jobs.toDouble),
        (s"$m.$pass.driver_s", "s", q.driver),
        (s"$m.$pass.shuffle_mb", "MB", q.shuffleMb),
        (s"$m.$pass.codegen_fallbacks", "count", q.codegenFallbacks.toDouble))
    }).flatten ++
    Seq(
      ("cache.cold_storage_mb", "MB", value("cold_storage_mb")),
      ("cache.warm_storage_mb", "MB", value("warm_storage_mb")),
      ("cache.cold_minus_warm_s", "s", value("cold_s") - value("warm_s")),
      ("io.tmp_written_mb", "MB", value("tmp_written_mb")),
      ("io.tmp_files", "count", value("tmp_files")),
      ("io.bytes_written_mb", "MB", all.writtenMb),
      ("io.records_written", "count", all.records.toDouble),
      ("spark.jobs", "count", all.jobs.toDouble),
      ("spark.stages", "count", all.stages.toDouble),
      ("spark.tasks", "count", all.tasks.toDouble),
      ("spark.task_cpu_s", "s", all.taskCpu),
      ("spark.driver_s", "s", all.driver),
      ("spark.s_per_job", "s", all.wall / math.max(1, all.jobs)),
      ("trace.unit_self_s", "s", root.seconds - children),
      ("trace.coverage", "ratio", children / root.seconds))
  }

  /** Per-layer metrics for a traced run, plus the tracing overhead:
    * the traced units' median result time minus that of the untraced
    * units after the warm-up. */
  def derive(tracer: Tracer, units: Seq[UnitResult], rec: Recorder, app: CodegenAppender,
             work: String): Seq[(String, (Double, String))] = {
    val traced = units.filter(_.traced)
    val perUnit = traced.map(ofUnit(tracer, _, rec, app))
    writeTable(tracer, traced, rec, app, work)
    val names = perUnit.head.map(x => (x._1, x._2))
    names.zipWithIndex.map { case ((name, unit), i) =>
      name -> (Stats.median(perUnit.map(_(i)._3)), unit)
    } :+ ("trace.overhead_s" -> (Stats.median(traced.map(_.resultS)) -
      Stats.median(units.filter(u => !u.traced && !u.warmup).map(_.resultS)), "s"))
  }

  /** One row per traced span: wall, self time and engine counters. */
  private def writeTable(tracer: Tracer, traced: Seq[UnitResult], rec: Recorder,
                         app: CodegenAppender, work: String): Unit = {
    val runs = traced.map(_.index).toSet
    val header = Seq("run", "span", "wall_s", "self_s", "jobs", "stages", "tasks",
      "task_cpu_s", "gc_s", "shuffle_mb", "spill_mb", "written_mb", "driver_s",
      "codegen_fallbacks").mkString("\t")
    val rows = tracer.spans.filter(s => runs(s.run)).map { s =>
      val c = Counters.of(s, rec, app)
      Seq(s.run, s.name, f"${c.wall}%.4f", f"${tracer.selfSeconds(s)}%.4f", c.jobs,
        c.stages, c.tasks, f"${c.taskCpu}%.4f", f"${c.gc}%.4f", f"${c.shuffleMb}%.4f",
        f"${c.spillMb}%.4f", f"${c.writtenMb}%.4f", f"${c.driver}%.4f",
        c.codegenFallbacks).mkString("\t")
    }
    Files.write(Paths.get(work, "layers.tsv"), (header +: rows.toSeq).asJava)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
