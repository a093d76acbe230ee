package org.apache.spark

/** Bridge to the `private[spark]` task output-metric setters.
  *
  * Spark's file writer reports each task's written bytes and records
  * through them (`BasicWriteTaskStatsTracker`), which is what the SQL
  * UI, task-end listeners and `outputMetrics` readers count.
  * [[graft.sources.LakeWriter]] writes its files itself, so it reports
  * the same two figures here. Same package-shim pattern as
  * `org.apache.spark.sql.classic.GraftExprBridge`; scope: this ONE
  * function.
  */
object GraftOutputMetrics {

  /** Add `bytes` and `records` to the running task's output metrics. */
  def add(bytes: Long, records: Long): Unit = {
    val m = TaskContext.get().taskMetrics().outputMetrics
    m.setBytesWritten(m.bytesWritten + bytes)
    m.setRecordsWritten(m.recordsWritten + records)
  }
}
