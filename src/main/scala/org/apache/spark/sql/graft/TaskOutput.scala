package org.apache.spark.sql.graft

import org.apache.spark.TaskContext

/** `private[spark]`-access shim for [[graft.logs.DayWriter]]: report what
  * a task wrote in its output metrics, as Spark's own file writer does
  * (`BasicWriteTaskStatsTracker.getFinalStats`), so listeners and the
  * stage summary see the bytes and records of a write that bypasses it.
  */
object TaskOutput {
  def record(ctx: TaskContext, bytes: Long, records: Long): Unit = {
    val out = ctx.taskMetrics().outputMetrics
    out.setBytesWritten(bytes)
    out.setRecordsWritten(records)
  }
}
