package perfbench

import perfbench.Probe.{JobRec, StageRec}

/**
 * Attributes every job of a traced unit to one repo module and folds
 * the job and stage spans into per-layer numbers.
 *
 * A job is assigned, in order:
 *  1. by the output it writes, when its SQL execution writes under the
 *     unit's output root: `parsed_pbp` → pbp; `expected_runs`,
 *     `linear_weights`, `pbp_with_metrics`, `guts_constants` → metrics;
 *     `*_war` → war; `leaderboards/…` → leaderboards; the benchmark's
 *     own per-query result sink (`q/…`) → queries;
 *  2. to `app` when it re-reads a just-written output to count it (its
 *     innermost engine frame is RunAll's `write`/`upsert`);
 *  3. otherwise to the innermost `graft.<module>` frame of its call site.
 * A job none of these rules place is counted in `spark.unattributed_jobs`.
 * The `io` numbers are a view across these layers: every job of a SQL
 * execution that writes files under the output root (the work the write
 * pulls through and the commit), whichever layer owns it.
 */
object Layers {

  /** The modules reported as layers (the ones whose frames launch jobs). */
  val Modules: Seq[String] = Seq("pbp", "metrics", "war", "leaderboards", "app",
    "util", "operators", "queries")

  private val Frame = """(?m)^\s*(?:at\s+)?graft\.([a-z]\w*)\.([\w$]+)\.([\w$]+)""".r

  def byOutput(rel: String): Option[String] = rel match {
    case "parsed_pbp" => Some("pbp")
    case "expected_runs" | "linear_weights" | "pbp_with_metrics" | "guts_constants" =>
      Some("metrics")
    case r if r.endsWith("_war") => Some("war")
    case r if r.startsWith("leaderboards/") => Some("leaderboards")
    case r if r.startsWith("q/") => Some("queries")
    case _ => None
  }

  /** Output-root-relative table a write path names (partition dirs and
    * the `file:` scheme stripped). */
  def relOutput(path: String, outRoot: String): Option[String] = {
    val p = path.stripPrefix("file:").replaceAll("/+$", "")
    val root = outRoot.replaceAll("/+$", "")
    if (!p.startsWith(root + "/")) None
    else Some(p.substring(root.length + 1).split('/').takeWhile(!_.contains('=')).mkString("/"))
  }

  final case class Attributed(job: JobRec, layer: Option[String], readback: Boolean)

  def attribute(p: Probe, outRoot: String): Seq[Attributed] = p.jobs.toSeq.map { j =>
    val exec = j.execId.flatMap(p.execs.get)
    val write = exec.flatMap(_.writePath).flatMap(relOutput(_, outRoot)).flatMap(byOutput)
    // a job of a SQL execution (its broadcasts and AQE stages included,
    // which run on pool threads) carries the call site of the action
    // that started the execution
    val inner = Frame.findFirstMatchIn(exec.map(_.details).getOrElse(j.callSite))
    val readback = write.isEmpty && inner.exists(m =>
      m.group(1) == "app" && (m.group(3).startsWith("write$") || m.group(3).startsWith("upsert$")))
    val layer = write.orElse(if (readback) Some("app") else inner.map(_.group(1)))
    Attributed(j, layer, readback)
  }

  /** Total length of the union of [start, end] intervals (ms → s). */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e >= s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Per-layer and whole-Spark numbers for one traced unit spanning
    * [unitStart, unitEnd] (epoch ms). */
  def summarize(p: Probe, outRoot: String, unitStart: Long, unitEnd: Long): Map[String, Double] = {
    val att = attribute(p, outRoot)
    val stagesOf: Map[Int, Seq[StageRec]] = p.stages.values.toSeq.groupBy(_.jobId)
    def ran(js: Seq[Attributed]) = js.flatMap(a => stagesOf.getOrElse(a.job.id, Nil)).filter(_.ran)
    def iv(js: Seq[Attributed]) = js.map(a => (a.job.start, if (a.job.end < 0) unitEnd else a.job.end))
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val byLayer = att.groupBy(_.layer).collect { case (Some(l), js) => l -> js }
    def layer(m: String) = byLayer.getOrElse(m, Nil)
    Modules.foreach { m =>
      val js = layer(m)
      val st = ran(js)
      out(s"$m.busy_s") = unionS(iv(js))
      out(s"$m.task_cpu_s") = st.map(_.cpuNs).sum / 1e9
      out(s"$m.jobs") = js.size.toDouble
      out(s"$m.shuffle_mb") = st.map(_.shuffleWrite).sum / 1e6
    }
    // max/median task time of the parser's longest stage
    val pbpStages = ran(layer("pbp"))
    out("pbp.skew") = if (pbpStages.isEmpty) 0.0 else {
      val t = pbpStages.maxBy(_.durMs).taskMs.map(_.toDouble).toSeq
      val med = median(t)
      if (t.isEmpty || med <= 0) 1.0 else t.max / med
    }
    out("operators.spill_mb") = ran(layer("operators")).map(_.spill).sum / 1e6
    // io is the write path seen across the layers rule 1 assigns its
    // jobs to: every job of an execution writing under the output root
    val writes = att.filter(a => a.job.execId.flatMap(p.execs.get)
      .exists(_.writePath.exists(relOutput(_, outRoot).isDefined)))
    out("io.busy_s") = unionS(iv(writes))
    out("io.jobs") = writes.size.toDouble
    val rb = att.filter(_.readback)
    out("app.readback_jobs") = rb.size.toDouble
    out("app.readback_s") = unionS(iv(rb))
    val wall = (unitEnd - unitStart) / 1000.0
    val allBusy = unionS(iv(att))
    out("app.driver_gap_s") = math.max(0.0, wall - allBusy)
    // layer busy time + driver gap over wall: 1 when every busy interval
    // is owned by exactly one layer, above 1 where layers overlap
    out("app.accounted_frac") = if (wall <= 0) 0.0
      else (byLayer.values.map(js => unionS(iv(js))).sum + out("app.driver_gap_s")) / wall
    val st = p.stages.values.filter(_.ran).toSeq
    out("spark.jobs") = att.size.toDouble
    out("spark.stages") = st.size.toDouble
    out("spark.tasks") = st.map(_.tasks).sum.toDouble
    out("spark.shuffle_mb") = st.map(_.shuffleWrite).sum / 1e6
    out("spark.spill_mb") = st.map(_.spill).sum / 1e6
    out("spark.scan_mb") = st.map(_.input).sum / 1e6
    out("spark.gc_s") = st.map(_.gcMs).sum / 1000.0
    out("spark.one_task_stage_s") = st.filter(_.numTasks == 1).map(_.durMs).sum / 1000.0
    out("spark.unattributed_jobs") = att.count(_.layer.isEmpty).toDouble
    out("spark.busy_s") = allBusy
    val ex = p.execs.values.toSeq
    out("plans.scan_nodes") = ex.map(_.scans).sum.toDouble
    out("plans.exchanges") = ex.map(_.exchanges).sum.toDouble
    // boards that reached RunAll's publish gate (one emptiness probe each)
    out("leaderboards.boards_computed") =
      ex.count(_.description.startsWith("isEmpty at RunAll")).toDouble
    // per benchmark span (one per ops_mix query): jobs and file scans
    val spanOfExec = att.flatMap(a => a.job.execId.map(_ -> a.job.span)).toMap
    att.groupBy(_.job.span).foreach { case (s, js) =>
      if (s.nonEmpty) {
        out(s"queries.$s.jobs") = js.size.toDouble
        out(s"queries.$s.scan_nodes") =
          ex.filter(e => spanOfExec.get(e.id).contains(s)).map(_.scans).sum.toDouble
      }
    }
    out.toMap
  }

  /** Job call sites of jobs no rule placed (for diagnosis on stderr). */
  def unattributed(p: Probe, outRoot: String): Seq[String] =
    attribute(p, outRoot).filter(_.layer.isEmpty).map(a => a.job.callSite.linesIterator.take(6).mkString(" | "))
}
