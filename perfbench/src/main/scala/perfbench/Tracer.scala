package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Splits one query execution's wall time across the repo's layers,
  * observing the program only through Spark's public listeners, the
  * planning tracker and the codegen counters.
  *
  * A traced execution is one root span with children: the
  * `operators.construct` call, every Catalyst phase of every query
  * execution the construct or the materialization ran (from each
  * `QueryPlanningTracker`'s phase start and end), and one `exec.job`
  * span per Spark job. Each millisecond of the root is given to exactly
  * one span: a running job first, else a running Catalyst phase, else
  * the construct call, else the root itself (the driver gap). The self
  * times therefore add up to the root's wall by construction; what the
  * check measures is how far that millisecond wall is from the
  * nanosecond wall, and how many events fell outside the span (a sign
  * that the asynchronous listener bus was not drained). */
final class Tracer(spark: SparkSession, warehouse: File, tmp: File)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val stages = mutable.Set[Int]()
  private val qes = mutable.ArrayBuffer[QueryExecution]()
  private var blockBytes = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(
      e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid) blockBytes += i.memSize + i.diskSize
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { qes += qe }

  /** Clears the event buffers; returns how many job, task and query
    * events they held (at a span's start: events no span owns). */
  private def reset(): Int = synchronized {
    val stray = jobs.size + tasks.size + qes.size
    jobs.clear(); tasks.clear(); stages.clear(); qes.clear(); blockBytes = 0L
    stray
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Total bytes and count of regular files under `dir`, optionally only
    * those modified at or after `sinceMs`, skipping `skip`. */
  private def treeStats(dir: File, sinceMs: Long = Long.MinValue,
                        skip: Option[File] = None): (Long, Long) = {
    var bytes = 0L; var files = 0L
    def walk(f: File): Unit =
      if (!skip.contains(f)) {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else if (f.isFile && f.lastModified() >= sinceMs) { bytes += f.length(); files += 1 }
      }
    walk(dir)
    (bytes, files)
  }

  /** One traced execution: `construct` builds the DataFrame (the
    * operators layer), `materialize` runs it. Returns whether it
    * succeeded, the error if not, the per-execution layer counters and
    * the span records. */
  def run(traceId: String, construct: () => DataFrame, materialize: DataFrame => Unit)
      : (Option[Throwable], Seq[(String, Any)], Seq[String]) = {
    val sc = spark.sparkContext
    val ckptDir = new File(warehouse, "_graft_checkpoints")
    ListenerBusDrain(sc)
    val stray = reset()
    val (ck0Bytes, ck0Files) = treeStats(ckptDir)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val gc0 = gcMs()

    val n0 = System.nanoTime(); val t0 = System.currentTimeMillis()
    var tc = -1L
    var df: DataFrame = null
    var err: Option[Throwable] = None
    try {
      df = construct()
      tc = System.currentTimeMillis()
      materialize(df)
    } catch { case t: Throwable => err = Some(t) }
    val t1 = System.currentTimeMillis(); val n1 = System.nanoTime()
    if (tc < 0) tc = t1

    ListenerBusDrain(sc)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileNs = CodeGenerator.compileTime - compileNs0
    val gc = gcMs() - gc0
    val (ck1Bytes, ck1Files) = treeStats(ckptDir)
    val (_, writtenFiles) = treeStats(warehouse, t0, Some(ckptDir))
    val (_, writtenTmp) = treeStats(tmp, t0)

    val (jobRecs, taskRecs, stageCount, trackers, cacheBytes) = synchronized {
      val trs = (qes.toSeq ++ Option(df).map(_.queryExecution).toSeq)
        .map(_.tracker).distinct
      val batch = (jobs.values.toSeq, tasks.toSeq, stages.size, trs, blockBytes)
      reset()
      batch
    }

    // ---- spans --------------------------------------------------------
    final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
                          attrs: Seq[(String, Any)])
    val spans = mutable.ArrayBuffer[Span]()
    spans += Span(0, -1, "query", t0, t1, Nil)
    spans += Span(1, 0, "operators.construct", t0, tc, Nil)
    def parentOf(start: Long): Int = if (start >= t0 && start < tc) 1 else 0
    val phaseName = Map(
      QueryPlanningTracker.PARSING -> "catalyst.parse",
      QueryPlanningTracker.ANALYSIS -> "catalyst.analyze",
      QueryPlanningTracker.OPTIMIZATION -> "catalyst.optimize",
      QueryPlanningTracker.PLANNING -> "catalyst.plan")
    for (tr <- trackers; (ph, s) <- tr.phases.toSeq.sortBy(_._2.startTimeMs))
      spans += Span(spans.size, parentOf(s.startTimeMs), phaseName.getOrElse(ph, s"catalyst.$ph"),
        s.startTimeMs, s.endTimeMs, Nil)
    val tasksByStage = taskRecs.groupBy(_.stageId)
    for (j <- jobRecs.sortBy(_.start)) {
      val jt = j.stageIds.flatMap(tasksByStage.getOrElse(_, Nil))
      spans += Span(spans.size, parentOf(j.start), "exec.job", j.start,
        if (j.end < 0) t1 else j.end,
        Seq("job_id" -> j.id, "tasks" -> jt.size, "task_s" -> jt.map(_.runMs).sum / 1e3))
    }

    // ---- exclusive partition of the root's milliseconds ---------------
    def clip(x: Long) = math.min(math.max(x, t0), t1)
    val outside = spans.count(s => s.start < t0 || s.end > t1)
    val cuts = spans.flatMap(s => Seq(clip(s.start), clip(s.end))).distinct.sorted
    val self = Array.fill(spans.size)(0L)
    def kind(s: Span): Int =
      if (s.name == "exec.job") 0 else if (s.name.startsWith("catalyst.")) 1
      else if (s.id == 1) 2 else 3
    val byPriority = spans.sortBy(s => (kind(s), s.start))
    for ((a, b) <- cuts.zip(cuts.drop(1))) {
      val mid = (a + b) / 2.0
      val owner = byPriority.find(s => s.start <= mid && mid < s.end).getOrElse(spans(0))
      self(owner.id) += b - a
    }
    def selfOf(p: Span => Boolean): Double = spans.filter(p).map(s => self(s.id)).sum / 1e3
    val constructS = self(1) / 1e3
    val gapS = self(0) / 1e3
    val jobS = selfOf(_.name == "exec.job")
    val catalystS = selfOf(_.name.startsWith("catalyst."))
    val wallMs = (n1 - n0) / 1e6
    val sumErrMs = math.abs((self.sum) - wallMs)

    // ---- counters attached where the work happened --------------------
    val scanTasks = taskRecs.filter(_.inBytes > 0)
    val scanShare = scanTasks.groupBy(_.stageId).values.map { ts =>
      ts.map(_.inBytes).max.toDouble / ts.map(_.inBytes).sum
    }
    val counters: Seq[(String, Any)] = Seq(
      "operators.construct_s" -> constructS,
      "operators.construct_jobs" -> jobRecs.count(_.start < tc),
      "catalyst.parse_s" -> selfOf(_.name == "catalyst.parse"),
      "catalyst.analyze_s" -> selfOf(_.name == "catalyst.analyze"),
      "catalyst.optimize_s" -> selfOf(_.name == "catalyst.optimize"),
      "catalyst.plan_s" -> selfOf(_.name == "catalyst.plan"),
      "catalyst.self_s" -> catalystS,
      "codegen.compiles" -> compiles,
      "codegen.compile_s" -> compileNs / 1e9,
      "exec.job_s" -> jobS,
      "exec.jobs" -> jobRecs.size,
      "exec.stages" -> stageCount,
      "exec.tasks" -> taskRecs.size,
      "exec.task_s" -> taskRecs.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> taskRecs.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> taskRecs.map(_.gcMs).sum / 1e3,
      "driver.gap_s" -> gapS,
      "scan.input_bytes" -> taskRecs.map(_.inBytes).sum,
      "scan.input_records" -> taskRecs.map(_.inRecords).sum,
      "scan.tasks" -> scanTasks.size,
      "scan.max_task_share" -> (if (scanShare.isEmpty) 0.0 else scanShare.max),
      "shuffle.write_bytes" -> taskRecs.map(_.shuffleWrite).sum,
      "shuffle.read_bytes" -> taskRecs.map(_.shuffleRead).sum,
      "spill.bytes" -> taskRecs.map(_.spill).sum,
      "write.output_bytes" -> taskRecs.map(_.outBytes).sum,
      "write.output_records" -> taskRecs.map(_.outRecords).sum,
      "write.files" -> (writtenFiles + writtenTmp),
      "checkpoint.bytes" -> (ck1Bytes - ck0Bytes).max(0L),
      "checkpoint.files" -> (ck1Files - ck0Files).max(0L),
      "cache.bytes_stored" -> cacheBytes,
      "jvm.gc_s" -> gc / 1e3,
      "trace.sum_err_ms" -> sumErrMs,
      "trace.outside_events" -> outside,
      "trace.stray_events" -> stray)

    val lines = spans.toSeq.map { s =>
      val attrs = if (s.id == 0) counters ++ s.attrs else s.attrs
      Json(Seq("trace" -> traceId, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id)) ++ attrs)
    }
    (err, counters, lines)
  }
}

object Tracer {
  private final case class JobRec(id: Int, start: Long, var end: Long, stageIds: Seq[Int])
  private final case class TaskRec(
      stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long,
      outBytes: Long, outRecords: Long)
}
