package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** The engine's one Spark listener: cumulative task-level I/O
  * counters (input bytes read, shuffle bytes written/read, bytes
  * spilled, summed over every completed task since install) and one
  * record per finished job. QBench reads the job records of its last
  * rep (per-job wall time and the driver gap between jobs). Bench
  * snapshots the counters around each query's first rep, so the
  * artifact carries a per-query I/O profile next to the timing — the
  * number that says WHY a query costs what it costs, and the one that
  * predicts scale behavior better than seconds do: at 1000 executors
  * the wall-clock re-shuffles, but bytes-shuffled-per-input-byte is
  * the plan's own constant. A query whose shuffle volume is a large
  * multiple of its input has a scale bottleneck regardless of how
  * fast this box runs it; one whose input bytes exceed its
  * pruned-column expectation is missing pushdown (ScanAuditSpec
  * gates the latter statically; this measures it).
  *
  * Lives in the `org.apache.spark` package for the same reason
  * `GraftIterativeCheckpoint` lives in `o.a.s.sql`: the one
  * synchronization primitive that makes snapshot deltas exact —
  * `SparkContext.listenerBus.waitUntilEmpty` — is `private[spark]`.
  * Listener events are delivered async, so without draining the bus a
  * snapshot taken right after an action returns can miss that
  * action's last task-end events (and mis-attribute them to the NEXT
  * query). Metrics themselves come from the public DeveloperApi
  * `TaskMetrics` on `SparkListenerTaskEnd`.
  *
  * local-mode note: `inputMetrics.bytesRead` counts bytes delivered by
  * the read path (per split), not distinct file bytes — a table read
  * twice counts twice, which is exactly the per-query attribution the
  * bench wants. */
object GraftTaskIO {
  /** One finished Spark job: id, start and end (epoch ms, the
    * listener's event times), task count over its stages, and its
    * short call site (`collect at Foo.scala:12`). A job inside a SQL
    * execution is named by the execution's description, the action's
    * call site: under AQE each query-stage job is submitted from
    * Spark's own thread, so its result stage names a Spark frame. */
  final case class Job(id: Int, start: Long, end: Long, tasks: Int, callSite: String)

  final class Counters private[GraftTaskIO] () extends SparkListener {
    private[GraftTaskIO] val input = new AtomicLong
    private[GraftTaskIO] val shuffleWrite = new AtomicLong
    private[GraftTaskIO] val shuffleRead = new AtomicLong
    private[GraftTaskIO] val spill = new AtomicLong
    // written only by this listener's bus thread; the volatile read in
    // `snapshot` (after the drain) sees every job that ended before it
    private val started = new java.util.HashMap[Int, Job]
    private val executions = new java.util.HashMap[String, String] // SQL execution id -> description
    @volatile private[GraftTaskIO] var jobs = Vector.empty[Job]

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        input.addAndGet(m.inputMetrics.bytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executions.put(s.executionId.toString, s.description)
      case s: SparkListenerSQLExecutionEnd => executions.remove(s.executionId.toString)
      case _ =>
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      // outside any SQL execution, the result stage (highest id) is
      // named by the job's short call site
      val site = Option(js.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => Option(executions.get(id)))
        .getOrElse(js.stageInfos.maxByOption(_.stageId).fold("")(_.name))
      started.put(js.jobId, Job(js.jobId, js.time, 0L, js.stageInfos.map(_.numTasks).sum, site))
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach(j => jobs :+= j.copy(end = je.time))
  }

  /** (input, shuffle write, shuffle read, disk spill) in bytes, and the
    * jobs that have ended, in end order. A delta `b - a` holds the
    * byte deltas and the jobs that ended between the two snapshots. */
  final case class Snapshot(input: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, jobs: Vector[Job]) {
    def -(o: Snapshot): Snapshot = Snapshot(input - o.input,
      shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
      spill - o.spill, jobs.drop(o.jobs.size))
  }

  def install(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Drain the listener bus, then read the counters — exact as of
    * every task and job that has COMPLETED when this is called. A bus
    * that cannot drain in 10s (a stuck listener elsewhere) yields a
    * stale read rather than an exception: I/O attribution is bench
    * evidence, never worth failing the run over. */
  def snapshot(spark: SparkSession, c: Counters): Snapshot = {
    try spark.sparkContext.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => }
    Snapshot(c.input.get, c.shuffleWrite.get, c.shuffleRead.get, c.spill.get, c.jobs)
  }
}
