package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/**
 * One benchmark run: one process, one workload, one seed.
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> [--record]
 *
 * Set-up (timed as `setup_s`) starts the JVM and the session and
 * generates the seed's inputs to parquet from the test data committed
 * in `perfbench/data/`. The measured phase is a
 * closed loop with one caller: units run back to back until `--seconds`
 * have passed, at least one. A unit is a whole batch in a fresh
 * process, as the daily cron runs it, so it is measured cold: no
 * warm-up pass precedes it. Each unit's outputs are digested after its
 * clock stops and compared with the digests recorded for the seed's
 * input variant in `perfbench/expected/<workload>.json` (`--record`
 * writes them instead). The last stdout line is the result JSON;
 * progress goes to stderr, the run record to `.bench_build/runs`.
 */
object Main {

  /** Seeds map onto this many input variants, each with recorded digests. */
  val Variants = 5

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val wlName = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val wl = Workloads.all.getOrElse(wlName, sys.error(s"unknown workload $wlName"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(0L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val record = args.contains("--record")
    val root = Paths.get(sys.props("user.dir")).toAbsolutePath.toString
    val bench = s"$root/.bench_build"
    val variant = java.lang.Math.floorMod(seed, Variants.toLong)
    val runId = s"$wlName-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}"
    val data = s"$bench/data/$runId"
    val out = s"$bench/out/$runId"

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$bench/spark-local")
      .config("spark.sql.warehouse.dir", s"$bench/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val probe = new Probe(sc)
    sc.addSparkListener(probe)
    var hygiene: Hygiene = null
    try {
      if (record) { recordAll(spark, wl, root, data, out); return }
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
      val g0 = System.nanoTime()
      wl.generate(spark, root, data, variant)
      val genS = (System.nanoTime() - g0) / 1e9
      val setupS = sessionS + genS
      log(f"setup: session $sessionS%.2f s, generate $genS%.2f s")
      // after set-up, so its calibration and process scan are in neither
      // setup_s nor a unit's wall time
      hygiene = new Hygiene

      val expectedFile = Paths.get(root, "perfbench", "expected", s"$wlName.json")
      val expected = Expected.load(expectedFile, variant.toString)
      var attempted = 0L
      var failed = 0L
      val units = mutable.ArrayBuffer.empty[UnitRec]
      val spans = mutable.ArrayBuffer.empty[String]

      val loopStart = System.nanoTime()
      def elapsed = (System.nanoTime() - loopStart) / 1e9
      while (elapsed < seconds || units.isEmpty) {
        probe.traced = trace
        probe.begin()
        var openSpan: Option[(String, Long)] = None
        def span(name: String): Unit = {
          openSpan.foreach { case (n, s) => spans += Spans.json(runId, "span", n, s,
            System.currentTimeMillis(), s"unit${units.size}") }
          openSpan = if (name.isEmpty) None else Some((name, System.currentTimeMillis()))
          sc.setLocalProperty(probe.SpanProp, if (name.isEmpty) null else name)
        }
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val check = try Some(wl.unit(spark, data, out, span)) catch {
          case scala.util.control.NonFatal(e) =>
            log(s"unit ${units.size} threw: $e"); None
        }
        val wallS = (System.nanoTime() - n0) / 1e9
        val t1 = System.currentTimeMillis()
        val ctr = probe.end()
        probe.traced = false
        hygiene.sample()
        val layers = if (trace) {
          Layers.unattributed(probe, out).foreach(c => log(s"unattributed job: $c"))
          spans ++= Spans.of(probe, runId, s"unit${units.size}", t0, t1, wlName, out)
          Layers.summarize(probe, out, t0, t1)
        } else Map.empty[String, Double]
        // correctness, outside the unit's clock
        val c0 = System.nanoTime()
        val uo = check.flatMap(c => try Some(c()) catch {
          case scala.util.control.NonFatal(e) => log(s"check threw: $e"); None })
        uo match {
          case None => attempted += 1; failed += 1
          case Some(u) =>
            u.invariants.foreach { case (what, ok) =>
              attempted += 1
              if (!ok) { failed += 1; log(s"invariant failed: $what") }
            }
            val got = Main.digestAll(u.outputs).toMap
            (got.keySet ++ expected.keySet).toSeq.sorted.foreach { k =>
              attempted += 1
              if (got.get(k) != expected.get(k)) {
                failed += 1
                log(s"mismatch $k: got ${got.getOrElse(k, "no such output")}, " +
                  s"expected ${expected.getOrElse(k, "nothing recorded")}")
              }
            }
        }
        log(f"check: ${(System.nanoTime() - c0) / 1e9}%.2f s")
        // what the unit left behind once it returned and the cache is
        // cleared; unpersist is asynchronous, so give the removals a moment
        spark.catalog.clearCache()
        Thread.sleep(500)
        val (persistedLeft, cachedBytesLeft) = probe.rddHeld
        val cachedMbLeft = cachedBytesLeft / 1e6
        units += UnitRec(trace, wallS, ctr, layers, uo.map(_.queryWall).getOrElse(Map.empty),
          uo.map(_.boardsPublished).getOrElse(0), persistedLeft, cachedMbLeft)
        log(f"unit ${units.size - 1}%d${if (trace) " (traced)" else ""}: wall $wallS%.3f s, " +
          f"cpu ${ctr.cpuS}%.2f s, written ${ctr.writtenMb}%.2f MB, storage peak ${ctr.storagePeakMb}%.2f MB, " +
          s"persisted left $persistedLeft")
      }
      val endToEnd: Seq[(String, (Double, String))] = Seq(
        ("setup_s", (setupS, "s")),
        ("wall_s", (median(units.toSeq.map(_.wallS)), "s")),
        ("task_cpu_s", (median(units.toSeq.map(_.ctr.cpuS)), "s")),
        ("written_mb", (median(units.toSeq.map(_.ctr.writtenMb)), "MB")),
        ("storage_peak_mb", (median(units.toSeq.map(_.ctr.storagePeakMb)), "MB")),
        ("ok_frac", ((attempted - failed).toDouble / attempted, "ratio")))
      val metrics =
        if (!trace) endToEnd
        else PerLayer.report(units.toSeq, hygiene, RunRecord.untracedWall(s"$bench/runs", wlName))
          .map { case (k, v) => k -> (v, PerLayer.unit(k)) }
      RunRecord.write(s"$bench/runs/$runId.json", runId, wlName, seed, variant, trace,
        hygiene, setupS, units.toSeq, endToEnd, attempted, failed)
      if (trace) Spans.write(s"$bench/trace/$runId.jsonl", spans.toSeq)
      val correct = failed == 0 && expected.nonEmpty
      if (expected.isEmpty) log(s"no digests recorded for $wlName variant $variant")
      println(Json.result(correct, attempted, failed, metrics))
    } finally {
      if (hygiene != null) hygiene.stop()
      spark.stop()
      Seq(data, out).foreach(Files2.rmrf)
    }
  }

  /** `--record`: run one unit per input variant in this JVM and store
    * its output digests; a variant whose invariants fail is not stored. */
  def recordAll(spark: SparkSession, wl: Workload, root: String, data: String, out: String): Unit = {
    val file = Paths.get(root, "perfbench", "expected", s"${wl.name}.json")
    (0 until Variants).foreach { v =>
      Files2.rmrf(out)
      wl.generate(spark, root, data, v.toLong)
      val u = wl.unit(spark, data, out, _ => ())()
      spark.catalog.clearCache()
      val bad = u.invariants.filterNot(_._2).map(_._1)
      val ds = digestAll(u.outputs)
      val errors = ds.filter(_._2.startsWith("error"))
      if (bad.nonEmpty || errors.nonEmpty) log(s"variant $v not recorded: ${bad ++ errors.map(_._1)}")
      else { Expected.save(file, v.toString, ds.toMap); log(s"variant $v: ${ds.size} digests recorded") }
    }
  }

  /** Digest every output, four at a time (each is one small Spark job). */
  def digestAll(outputs: Seq[(String, () => Digest.D)]): Seq[(String, String)] =
    Par.map(outputs) { case (k, digest) =>
      k -> (try digest().toString catch { case scala.util.control.NonFatal(e) => s"error: $e" })
    }
}

final case class UnitRec(traced: Boolean, wallS: Double, ctr: Probe.UnitCounters,
    layers: Map[String, Double], queryWall: Map[String, Double], boardsPublished: Int,
    persistedLeft: Int, cachedMbLeft: Double)

/** Four-way parallel map for independent small Spark actions. */
object Par {
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }
  def foreach[A](xs: Seq[A])(f: A => Unit): Unit = { map(xs)(f); () }
}

object Files2 {
  def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) {
      val w = Files.walk(path)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally w.close()
    }
  }
}
