package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/**
 * The benchmark's one listener. Always on, it sums what the end-to-end
 * metrics need for the current unit: executor CPU, bytes committed by
 * write commands, and block-manager storage of cached blocks (current
 * and peak). With
 * `traced` set it also keeps a span per SQL execution, job and stage —
 * start, end, parent, run id — from which [[Layers]] attributes each
 * job to a repo module.
 *
 * Callbacks run on Spark's listener-bus thread; the benchmark thread
 * reads only after [[Probe.settle]] has drained the bus.
 */
final class Probe(sc: org.apache.spark.SparkContext) extends SparkListener {
  import Probe._

  @volatile var traced = false
  /** Span the benchmark thread is in (set as a job local property). */
  val SpanProp = "perfbench.span"

  // ---- always-on unit counters ----
  private var cpuNs = 0L
  private var writtenBytes = 0L
  private var writtenFiles = 0L
  private val blocks = mutable.HashMap.empty[String, (Boolean, Long)] // id -> (isRdd, bytes)
  private var storage = 0L
  private var storagePeak = 0L

  // ---- traced records ----
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val execs = mutable.HashMap.empty[Long, ExecRec]

  def settle(): Unit = org.apache.spark.sql.perfbench.Access.drain(sc)

  /** Open a unit: zero the counters, restart the storage peak. */
  def begin(): Unit = { settle(); synchronized {
    cpuNs = 0L; writtenBytes = 0L; writtenFiles = 0L; storagePeak = storage
    jobs.clear(); stages.clear(); execs.clear()
  } }

  /** Close a unit after its last action returned. */
  def end(): UnitCounters = { settle(); synchronized {
    UnitCounters(cpuNs / 1e9, writtenBytes / 1e6, writtenFiles, storagePeak / 1e6)
  } }

  /** RDD blocks the block managers still hold: (distinct RDDs, bytes). */
  def rddHeld: (Int, Long) = { settle(); synchronized {
    val held = blocks.iterator.collect { case (id, (true, b)) => (id.split('_')(1), b) }.toSeq
    (held.map(_._1).distinct.size, held.map(_._2).sum)
  } }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      if (traced) stages.get(e.stageId).foreach { s =>
        s.cpuNs += m.executorCpuTime
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.tasks += 1
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (traced) {
      val p = e.properties
      def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
      // the call site of the job's result stage (its highest stage id)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val j = JobRec(e.jobId, e.time, prop("spark.sql.execution.id").map(_.toLong),
        site, prop(SpanProp).getOrElse(""))
      jobs += j
      e.stageInfos.foreach { si =>
        stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId, e.jobId, si.numTasks))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (traced) jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (traced) stages.get(e.stageInfo.stageId).foreach { s =>
      s.start = e.stageInfo.submissionTime.getOrElse(0L)
      s.end = e.stageInfo.completionTime.getOrElse(0L)
      s.ran = true
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val id = i.blockId.name
    val bytes = i.memSize + i.diskSize
    // storage counts cached (RDD) blocks only: broadcast pieces are
    // freed whenever the context cleaner next runs, so their share of a
    // peak follows GC timing, not the program
    if (i.blockId.isRDD) storage -= blocks.get(id).map(_._2).getOrElse(0L)
    if (i.storageLevel.isValid && bytes > 0) blocks(id) = (i.blockId.isRDD, bytes)
    else blocks.remove(id)
    if (i.blockId.isRDD) storage += blocks.get(id).map(_._2).getOrElse(0L)
    storagePeak = math.max(storagePeak, storage)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if traced => synchronized {
      execs(s.executionId) = ExecRec(s.executionId, s.time, s.description, s.details,
        writePath(s.sparkPlanInfo))
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      org.apache.spark.sql.perfbench.Access.queryExecution(x).foreach { qe =>
        val plan = qe.executedPlan
        PlanCount.writes(plan).foreach { w =>
          writtenBytes += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
          writtenFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }
        if (traced) execs.get(x.executionId).foreach { r =>
          r.end = x.time
          r.scans = PlanCount.scans(plan)
          r.exchanges = PlanCount.exchanges(plan)
        }
      }
    }
    case _ =>
  }
}

object Probe {
  final case class UnitCounters(cpuS: Double, writtenMb: Double, files: Long, storagePeakMb: Double)

  final case class JobRec(id: Int, start: Long, execId: Option[Long], callSite: String,
      span: String) {
    var end: Long = -1L
  }
  final class StageRec(val id: Int, val jobId: Int, val numTasks: Int) {
    var start = 0L; var end = 0L; var ran = false
    var cpuNs = 0L; var taskMs = mutable.ArrayBuffer.empty[Long]; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var input = 0L; var tasks = 0
    def durMs: Long = if (ran) end - start else 0L
  }
  /** `details`: the call site of the action that started the execution. */
  final case class ExecRec(id: Long, start: Long, description: String, details: String,
      writePath: Option[String]) {
    var end: Long = -1L; var scans = 0; var exchanges = 0
  }

  private val WritePath = """InsertIntoHadoopFsRelationCommand (\S+?),""".r

  /** Output path of the first file-write command in a plan tree. */
  def writePath(p: org.apache.spark.sql.execution.SparkPlanInfo): Option[String] =
    WritePath.findFirstMatchIn(p.simpleString).map(_.group(1))
      .orElse(p.children.iterator.map(writePath).collectFirst { case Some(w) => w })

  /** Node counts over the executed plan, AQE query stages and
    * subqueries included. */
  object PlanCount extends AdaptiveSparkPlanHelper {
    def writes(p: SparkPlan): Seq[DataWritingCommandExec] =
      collectWithSubqueries(p) { case w: DataWritingCommandExec => w }
    def scans(p: SparkPlan): Int = collectWithSubqueries(p) { case s: FileSourceScanExec => s }.size
    def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) {
      case s: ShuffleExchangeLike => s; case b: BroadcastExchangeLike => b }.size
  }
}
