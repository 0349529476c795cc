package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Machine state around a run: load average at the start and its
  * maximum (sampled every second), other JVMs, and a fixed-work CPU
  * calibration time (the same 10^8 64-bit mixes `graft.Bench` times),
  * so a slow run can be told apart from a slow machine. */
final class Hygiene {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  private def jvms: Int = ProcessHandle.allProcesses().filter { p =>
    p.info().command().map[Boolean](_.contains("java")).orElse(false)
  }.count().toInt - 1
  val loadStart: Double = os.getSystemLoadAverage
  @volatile var loadMax: Double = loadStart
  val jvmsStart: Int = jvms
  @volatile var jvmsMax: Int = jvmsStart
  val calibMs: Double = {
    var h = 0x9e3779b97f4a7c15L
    def mix(iters: Int): Unit = {
      var i = 0
      while (i < iters) {
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
        h ^= h >>> 29; h *= 0xc4ceb9fe1a85ec53L
        i += 1
      }
    }
    mix(10000000)
    val t0 = System.nanoTime()
    mix(100000000)
    val dt = (System.nanoTime() - t0) / 1e6
    if (h == 42L) System.err.println("calibration sentinel")
    dt
  }
  @volatile private var running = true
  private val sampler = new Thread(() => {
    while (running) { sample(); try Thread.sleep(1000) catch { case _: InterruptedException => } }
  }, "perfbench-hygiene")
  sampler.setDaemon(true)
  sampler.start()
  def sample(): Unit = {
    loadMax = math.max(loadMax, os.getSystemLoadAverage)
    jvmsMax = math.max(jvmsMax, jvms)
  }
  def stop(): Unit = { running = false; sampler.interrupt(); sampler.join() }
}

/** The per-layer report of a traced run (every name in [[names]]). */
object PerLayer {
  /** Queries whose file-scan count is reported (the llm plan-copy case). */
  val LlmQueries: Seq[String] = OpsMix.Queries.filter(_.startsWith("llm"))

  val names: Seq[String] =
    Seq("pbp.busy_s", "pbp.task_cpu_s", "pbp.jobs", "pbp.shuffle_mb", "pbp.skew") ++
      Seq("metrics", "war").flatMap(l => Seq("busy_s", "task_cpu_s", "jobs", "shuffle_mb").map(m => s"$l.$m")) ++
      Seq("leaderboards.busy_s", "leaderboards.task_cpu_s", "leaderboards.jobs",
        "leaderboards.shuffle_mb", "leaderboards.boards_computed", "leaderboards.boards_published",
        "io.busy_s", "io.jobs", "io.files_written", "io.written_mb",
        "app.busy_s", "app.jobs", "app.readback_jobs", "app.readback_s", "app.driver_gap_s",
        "app.accounted_frac",
        "util.busy_s", "util.jobs", "util.persisted_left", "util.cached_mb_left",
        "operators.busy_s", "operators.task_cpu_s", "operators.jobs", "operators.shuffle_mb",
        "operators.spill_mb",
        "queries.busy_s", "queries.task_cpu_s", "queries.jobs") ++
      OpsMix.Queries.flatMap(q => Seq(s"queries.$q.wall_s", s"queries.$q.jobs")) ++
      LlmQueries.map(q => s"queries.$q.scan_nodes") ++
      Seq("plans.scan_nodes", "plans.exchanges",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_mb", "spark.spill_mb",
        "spark.scan_mb", "spark.gc_s", "spark.one_task_stage_s", "spark.unattributed_jobs",
        "spark.busy_s",
        "trace.wall_s", "trace.overhead_s", "run.load_start", "run.load_max", "run.jvms_max", "run.calib_ms")

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb") || name.contains("_mb_")) "MB"
    else if (name.endsWith("skew") || name.endsWith("_frac") || name.startsWith("run.load")) "ratio"
    else "count"

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** `untracedWall`: median wall_s of this workload's untraced runs in
    * the same checkout, the base of `trace.overhead_s` (None before any). */
  def report(units: Seq[UnitRec], h: Hygiene, untracedWall: Option[Double]): Seq[(String, Double)] = {
    val traced = units.filter(_.traced)
    def med(f: UnitRec => Double) = median(traced.map(f))
    val fromUnits: Map[String, Double] = Map(
      "leaderboards.boards_published" -> med(_.boardsPublished.toDouble),
      "io.files_written" -> med(_.ctr.files.toDouble),
      "io.written_mb" -> med(_.ctr.writtenMb),
      "util.persisted_left" -> median(units.map(_.persistedLeft.toDouble)),
      "util.cached_mb_left" -> median(units.map(_.cachedMbLeft)),
      "trace.wall_s" -> med(_.wallS),
      "trace.overhead_s" -> untracedWall.map(med(_.wallS) - _).getOrElse(0.0),
      "run.load_start" -> h.loadStart, "run.load_max" -> h.loadMax,
      "run.jvms_max" -> h.jvmsMax.toDouble, "run.calib_ms" -> h.calibMs) ++
      OpsMix.Queries.map(q => s"queries.$q.wall_s" -> med(_.queryWall.getOrElse(q, 0.0)))
    names.map(n => n -> fromUnits.getOrElse(n, med(_.layers.getOrElse(n, 0.0))))
  }
}

/** Recorded digests: `perfbench/expected/<workload>.json`, one object
  * per input variant mapping output name to "rows:lo:hi". */
object Expected {
  private val mapper = new ObjectMapper()
  private def read(f: Path): java.util.TreeMap[String, java.util.TreeMap[String, String]] = {
    val m = new java.util.TreeMap[String, java.util.TreeMap[String, String]]()
    if (Files.exists(f)) mapper.readTree(f.toFile).fields().asScala.foreach { e =>
      val inner = new java.util.TreeMap[String, String]()
      e.getValue.fields().asScala.foreach(x => inner.put(x.getKey, x.getValue.asText()))
      m.put(e.getKey, inner)
    }
    m
  }
  def load(f: Path, variant: String): Map[String, String] =
    Option(read(f).get(variant)).map(_.asScala.toMap).getOrElse(Map.empty)
  def save(f: Path, variant: String, digests: Map[String, String]): Unit = {
    val m = read(f)
    m.put(variant, new java.util.TreeMap[String, String](digests.asJava))
    Files.createDirectories(f.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(f.toFile, m)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""; case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, (Double, String))]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, (v, u)) => s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
        .mkString(", ") + "}}"
}

/** Span export: one JSON object per line — run id, kind, name, start and
  * end (epoch ms), parent. */
object Spans {
  def json(run: String, kind: String, name: String, start: Long, end: Long, parent: String,
      extra: Seq[(String, String)] = Nil): String =
    (Seq("run" -> Json.str(run), "kind" -> Json.str(kind), "name" -> Json.str(name),
      "start" -> start.toString, "end" -> end.toString, "parent" -> Json.str(parent)) ++ extra)
      .map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")

  def of(p: Probe, run: String, unitId: String, t0: Long, t1: Long, workload: String,
      outRoot: String): Seq[String] = {
    val layer = Layers.attribute(p, outRoot).map(a => a.job.id -> a.layer.getOrElse("")).toMap
    Seq(json(run, "unit", s"$workload/$unitId", t0, t1, workload)) ++
      p.execs.values.toSeq.sortBy(_.id).map(e => json(run, "sql", s"sql${e.id}", e.start, e.end,
        unitId, Seq("description" -> Json.str(e.description),
          "write" -> Json.str(e.writePath.getOrElse("")),
          "scans" -> e.scans.toString, "exchanges" -> e.exchanges.toString))) ++
      p.jobs.toSeq.map(j => json(run, "job", s"job${j.id}", j.start, j.end,
        j.execId.map(i => s"sql$i").getOrElse(if (j.span.nonEmpty) j.span else unitId),
        Seq("span" -> Json.str(j.span), "layer" -> Json.str(layer(j.id))))) ++
      p.stages.values.toSeq.filter(_.ran).sortBy(_.id).map(s => json(run, "stage", s"stage${s.id}",
        s.start, s.end, s"job${s.jobId}", Seq("tasks" -> s.tasks.toString,
          "cpu_ms" -> (s.cpuNs / 1000000).toString, "shuffle_write" -> s.shuffleWrite.toString)))
  }

  def write(file: String, lines: Seq[String]): Unit = {
    val f = Paths.get(file)
    Files.createDirectories(f.getParent)
    Files.write(f, lines.asJava)
  }
}

/** The run record: hygiene plus every unit's numbers, one JSON file per
  * run under `.bench_build/runs`. */
object RunRecord {
  /** Median end-to-end wall_s over the untraced run records of `workload`. */
  def untracedWall(dir: String, workload: String): Option[Double] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) None else {
      val mapper = new ObjectMapper()
      val walls = Files.list(d).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith(s"$workload-")).flatMap { f =>
          val n = mapper.readTree(f.toFile)
          if (n.path("trace").asBoolean(true)) None
          else Some(n.path("end_to_end").path("wall_s").asDouble())
        }
      if (walls.isEmpty) None else Some(walls.sorted.apply(walls.size / 2))
    }
  }

  def write(file: String, runId: String, workload: String, seed: Long, variant: Long,
      trace: Boolean, h: Hygiene, setupS: Double, units: Seq[UnitRec],
      endToEnd: Seq[(String, (Double, String))], attempted: Long, failed: Long): Unit = {
    val us = units.map(u => Seq("traced" -> u.traced.toString, "wall_s" -> Json.num(u.wallS),
      "task_cpu_s" -> Json.num(u.ctr.cpuS), "written_mb" -> Json.num(u.ctr.writtenMb),
      "storage_peak_mb" -> Json.num(u.ctr.storagePeakMb),
      "persisted_left" -> u.persistedLeft.toString, "cached_mb_left" -> Json.num(u.cachedMbLeft))
      .map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}"))
    val body = Seq("run" -> Json.str(runId), "workload" -> Json.str(workload),
      "seed" -> seed.toString, "variant" -> variant.toString, "trace" -> trace.toString,
      "load_start" -> Json.num(h.loadStart), "load_max" -> Json.num(h.loadMax),
      "jvms_start" -> h.jvmsStart.toString, "jvms_max" -> h.jvmsMax.toString,
      "calib_ms" -> Json.num(h.calibMs), "setup_s" -> Json.num(setupS),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "end_to_end" -> endToEnd.map { case (k, (v, _)) => s"${Json.str(k)}: ${Json.num(v)}" }
        .mkString("{", ", ", "}"),
      "units" -> us.mkString("[", ", ", "]"))
      .map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    val f = Paths.get(file)
    Files.createDirectories(f.getParent)
    Files.writeString(f, body + "\n")
  }
}
