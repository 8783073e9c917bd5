package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. Spans of one operation (a day, a
  * query, a catalog step) share `op`; `parent` is 0 for the operation's
  * root span.
  */
final case class Span(id: Long, op: Long, name: String, parent: Long,
                      startMs: Long, endMs: Long) {
  def durMs: Long = endMs - startMs
}

/** Spans kept in memory and written out once, when the run ends. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]

  def add(op: Long, name: String, parent: Long, startMs: Long, endMs: Long): Span = {
    val s = Span(buf.size + 1L, op, name, parent, startMs, endMs)
    buf += s
    s
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    val lines = buf.map(s =>
      s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Spans {

  /** A span's duration minus the part of it its children cover. */
  def selfMs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startMs, span.startMs), math.min(c.endMs, span.endMs)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var reach = span.startMs
    clipped.foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    span.durMs - covered
  }
}

final case class JobRec(jobId: Int, execId: Option[Long], startMs: Long, stageIds: Seq[Int])
final case class StageRec(stageId: Int, submitMs: Long, endMs: Long)
final case class TaskRec(stageId: Int, durMs: Long, cpuNs: Long, gcMs: Long,
                         peakMem: Long, spill: Long, inBytes: Long, inRecords: Long,
                         outBytes: Long, shWriteBytes: Long, shWriteRecords: Long,
                         shWriteNs: Long, shFetchWaitMs: Long)
final case class QeRec(funcName: String, qe: QueryExecution)

/** What Spark reported during one traced operation. */
final case class Snapshot(jobs: Seq[JobRec], jobEnds: Map[Int, Long],
                          stages: Seq[StageRec], tasks: Seq[TaskRec], qes: Seq[QeRec])

/** Records Spark's own events: jobs, stages and tasks through the
  * scheduler listener, finished SQL executions through the execution
  * listener. The benchmark installs it only in a traced phase.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobEnds = scala.collection.mutable.HashMap.empty[Int, Long]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val qes = ArrayBuffer.empty[QeRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs += JobRec(e.jobId, exec, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration,
      m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleWriteMetrics.writeTime, m.shuffleReadMetrics.fetchWaitTime)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += QeRec(funcName, qe) }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Everything recorded since the last take, then forget it. */
  def take(): Snapshot = synchronized {
    val s = Snapshot(jobs.toVector, jobEnds.toMap, stages.toVector, tasks.toVector, qes.toVector)
    jobs.clear(); jobEnds.clear(); stages.clear(); tasks.clear(); qes.clear()
    s
  }
}

/** Maps one traced operation's spans and Spark events onto the layers.
  * Every function returns layer metrics for that one operation; the run
  * averages them over its operations.
  */
object Layers extends AdaptiveSparkPlanHelper {

  private def s(ms: Long): Double = ms / 1000.0
  private def mb(bytes: Long): Double = bytes / 1048576.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val v = xs.sorted; v(v.size / 2) }

  /** SQL metrics of the plan node that carries `key`, searching through
    * adaptive query stages.
    */
  private def nodeMetrics(plan: SparkPlan, key: String): Seq[Map[String, Long]] =
    collect(plan) { case p if p.metrics.contains(key) => p }
      .map(_.metrics.map { case (k, m) => k -> m.value })

  /** One compacted day. `lister` and `call` are the spans of the
    * benchmark's own listing call and of `compactDayWithStats`; `day` is
    * their parent.
    *
    * Jobs are split at the write command's SQL execution: jobs before its
    * first job (the file-status listing job of many-object days) belong to
    * plan; of the write's stages, the one that reads text is the scan
    * (parse + exchange write), the one that writes Parquet the reduce
    * (exchange read + sort + encode). The call's children tile it, each
    * ending where the next begins: plan up to the scan stage's submission,
    * parse over the scan stage, exchange from its end to the reduce
    * stage's submission (the adaptive re-planning at the exchange and the
    * reduce job's submission), write from there to the last write job's
    * end, and commit from that to the call's return.
    */
  def day(spans: Spans, day: Span, lister: Span, call: Span, snap: Snapshot,
          corruptRows: Long): Map[String, Double] = {
    val jobs = snap.jobs.sortBy(_.startMs)
    val writeExec = jobs.lastOption.flatMap(_.execId)
    val firstWrite = math.max(jobs.indexWhere(j => writeExec.isDefined && j.execId == writeExec), 0)
    val (pre, write) = jobs.splitAt(firstWrite)
    val preStages = pre.flatMap(_.stageIds).toSet
    val writeStages = write.flatMap(_.stageIds).toSet
    val byStage = snap.tasks.groupBy(_.stageId)
    def stageTasks(st: StageRec): Seq[TaskRec] = byStage.getOrElse(st.stageId, Nil)
    val done = snap.stages.filter(st => writeStages(st.stageId))
    val scan = done.filter(st => stageTasks(st).exists(_.inBytes > 0))
    val reduce = done.filter(st => stageTasks(st).exists(_.outBytes > 0))
    val scanTasks = scan.flatMap(stageTasks)
    val reduceTasks = reduce.flatMap(stageTasks)
    // the boundaries, in order; a missing one collapses onto its predecessor
    val Seq(scanStart, scanEnd, reduceStart, writeEnd) = Seq(
      scan.map(_.submitMs).minOption.orElse(write.headOption.map(_.startMs)),
      scan.map(_.endMs).maxOption,
      reduce.map(_.submitMs).minOption,
      write.flatMap(j => snap.jobEnds.get(j.jobId)).maxOption,
    ).scanLeft(call.startMs)((prev, b) => math.min(math.max(b.getOrElse(prev), prev), call.endMs)).tail

    val plan = spans.add(call.op, "plan", call.id, call.startMs, scanStart)
    val parse = spans.add(call.op, "parse", call.id, scanStart, scanEnd)
    val exchange = spans.add(call.op, "exchange", call.id, scanEnd, reduceStart)
    val wr = spans.add(call.op, "write", call.id, reduceStart, writeEnd)
    val commit = spans.add(call.op, "commit", call.id, writeEnd, call.endMs)
    val layers = Seq(lister, plan, parse, exchange, wr, commit)
    val gapMs = Spans.selfMs(call, layers.tail) + Spans.selfMs(day, Seq(lister, call))

    val cmd = snap.qes.flatMap(r => nodeMetrics(r.qe.executedPlan, "jobCommitTime")).lastOption
      .getOrElse(Map.empty)
    val durs = reduceTasks.map(_.durMs.toDouble)
    Map(
      "day.wall_s" -> s(day.durMs),
      "day.unattributed_s" -> s(gapMs),
      "day.accounted_frac" -> layers.map(_.durMs).sum.toDouble / math.max(day.durMs, 1L),
      "lister.wall_s" -> s(lister.durMs),
      "plan.driver_s" -> s(plan.durMs),
      "plan.prewrite_jobs" -> pre.size.toDouble,
      "plan.prewrite_tasks" -> snap.tasks.count(t => preStages(t.stageId)).toDouble,
      "parse.stage_s" -> s(parse.durMs),
      "parse.task_cpu_s" -> scanTasks.map(_.cpuNs).sum / 1e9,
      "parse.tasks" -> scanTasks.size.toDouble,
      "parse.input_bytes" -> scanTasks.map(_.inBytes).sum.toDouble,
      "parse.lines" -> scanTasks.map(_.inRecords).sum.toDouble,
      "parse.corrupt_rows" -> corruptRows.toDouble,
      "parse.gc_s" -> s(scanTasks.map(_.gcMs).sum),
      "exchange.bytes" -> scanTasks.map(_.shWriteBytes).sum.toDouble,
      "exchange.records" -> scanTasks.map(_.shWriteRecords).sum.toDouble,
      "exchange.replan_s" -> s(exchange.durMs),
      "exchange.write_s" -> scanTasks.map(_.shWriteNs).sum / 1e9,
      "exchange.fetch_wait_s" -> s(reduceTasks.map(_.shFetchWaitMs).sum),
      "write.stage_s" -> s(wr.durMs),
      "write.task_cpu_s" -> reduceTasks.map(_.cpuNs).sum / 1e9,
      "write.task_skew" -> (if (durs.isEmpty) 0.0 else durs.max / math.max(median(durs), 1.0)),
      "write.spill_bytes" -> reduceTasks.map(_.spill).sum.toDouble,
      "write.peak_mem_mb" -> mb(reduceTasks.map(_.peakMem).maxOption.getOrElse(0L)),
      "write.gc_s" -> s(reduceTasks.map(_.gcMs).sum),
      "write.output_bytes" -> reduceTasks.map(_.outBytes).sum.toDouble,
      "write.files" -> cmd.getOrElse("numFiles", 0L).toDouble,
      "commit.s" -> s(commit.durMs),
      "commit.task_s" -> s(cmd.getOrElse("taskCommitTime", 0L)),
      "commit.job_s" -> s(cmd.getOrElse("jobCommitTime", 0L)),
    )
  }

  /** One Days Apart query. Planning is the analysis, optimization and
    * planning phases of the query's own tracker; execution is the rest of
    * its wall time.
    */
  def query(spans: Spans, q: Span, snap: Snapshot, rowsKept: Long): Map[String, Double] = {
    val qe = snap.qes.filter(_.funcName == "collect").lastOption.map(_.qe)
    val phases = qe.toSeq.flatMap(_.tracker.phases.values)
    phases.foreach(p => spans.add(q.op, "query.plan", q.id, p.startTimeMs, p.endTimeMs))
    val planMs = phases.map(_.durationMs).sum
    val scans = qe.toSeq.flatMap(e => nodeMetrics(e.executedPlan, "filesSize"))
    val scanned = scans.map(_.getOrElse("numOutputRows", 0L)).sum
    Map(
      "query.wall_s" -> s(q.durMs),
      "query.plan_s" -> s(planMs),
      "query.exec_s" -> s(q.durMs - planMs),
      "query.jobs" -> snap.jobs.size.toDouble,
      "query.tasks" -> snap.tasks.size.toDouble,
      "query.files_read" -> scans.map(_.getOrElse("numFiles", 0L)).sum.toDouble,
      "query.scan_bytes" -> scans.map(_.getOrElse("filesSize", 0L)).sum.toDouble,
      "query.rows_scanned" -> scanned.toDouble,
      "query.rows_kept" -> rowsKept.toDouble,
      "query.kept_ratio" -> rowsKept.toDouble / math.max(scanned, 1L),
      "query.shuffle_bytes" -> snap.tasks.map(_.shWriteBytes).sum.toDouble,
      "query.task_cpu_s" -> snap.tasks.map(_.cpuNs).sum / 1e9,
    )
  }
}
