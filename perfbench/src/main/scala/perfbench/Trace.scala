package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Span recorder for the traced run.
  *
  * A span wraps one call into an engine layer from the benchmark side:
  * name, start, end, parent and run id. Spark jobs are attributed to
  * spans through a local property set on the calling thread (threads
  * the engine starts inherit it); jobs that carry no span (those of a
  * streaming query thread started before the span opened) go to the
  * innermost span open on the caller thread when the job started.
  * Everything stays in memory and is summarised once, after timing.
  * With tracing off `span` only runs its body. */
final class Trace(val enabled: Boolean, val runId: String) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageMetrics = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  val progress = new ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val sp = Option(e.properties).map(_.getProperty(SpanProp)).orNull
        jobStarts.put(e.jobId, (e.time, sp))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach { case (t0, sp) =>
          jobs.add(Job(e.jobId, t0, e.time, Option(sp).map(_.toLong)))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          val a = stageMetrics.computeIfAbsent(e.stageId, _ => new Array[Long](3))
          a.synchronized {
            a(0) += m.executorCpuTime
            a(1) += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
            a(2) += m.outputMetrics.bytesWritten
          }
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add((Option(e.progress.name).getOrElse(""), e.progress))
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Run `body` inside span `name`; `caller` marks spans opened on the
    * benchmark's own thread (the fallback owner of unlabelled jobs). */
  def span[T](name: String, spark: SparkSession, caller: Boolean = true)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      stack.set(id :: stack.get)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val wallNs = System.nanoTime() - n0
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, prev)
        spans.add(Span(id, name, parent, t0, t0 + wallNs / 1000000L, wallNs, caller))
      }
    }

  /** Per span name, the per-call medians of every measure. Call after
    * the listener bus has drained (see [[Trace.drain]]). */
  def summarize(): Map[String, Map[String, Double]] = {
    val all = spans.asScala.toVector
    val callerSpans = all.filter(_.caller)
    def owner(j: Job): Option[Long] = j.span.orElse {
      // innermost caller-thread span whose interval holds the job start
      callerSpans.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(s => -s.start).headOption.map(_.id)
    }
    val jobsBySpan = jobs.asScala.toVector.groupBy(owner)
    val metricsByJob = stageMetrics.asScala.toVector.groupBy { case (st, _) =>
      stageJob.getOrDefault(st, -1) }
    def jobSum(j: Job, k: Int): Long =
      metricsByJob.getOrElse(j.id, Vector.empty).map(_._2(k)).sum
    val children = all.groupBy(_.parent)
    val perCall = all.map { s =>
      val js = jobsBySpan.getOrElse(Some(s.id), Vector.empty)
      val busy = coveredMs(js.map(j => (j.start, j.end)), s.start, s.end)
      val kids = children.getOrElse(s.id, Vector.empty).map(c => (c.start, c.end))
      s.name -> Map(
        "wall_ms" -> s.wallNs / 1e6,
        "self_ms" -> math.max(0.0, s.wallNs / 1e6 - coveredMs(kids, s.start, s.end)),
        "jobs" -> js.size.toDouble,
        "driver_gap_ms" -> math.max(0.0, s.wallNs / 1e6 - busy),
        "exec_cpu_ms" -> js.map(jobSum(_, 0)).sum / 1e6,
        "shuffle_bytes" -> js.map(jobSum(_, 1)).sum.toDouble,
        "output_bytes" -> js.map(jobSum(_, 2)).sum.toDouble)
    }
    perCall.groupBy(_._1).map { case (name, calls) =>
      val ms = calls.map(_._2)
      name -> ms.head.keys.map(k => k -> Stats.median(ms.map(_(k)))).toMap
        .updated("calls", ms.size.toDouble)
    }
  }

  /** Every span, for the trace file written at exit. */
  def spanRecords: Vector[Span] = spans.asScala.toVector.sortBy(_.id)
}

object Trace {
  val SpanProp = "perfbench.span"
  /** For passes that are not measured. */
  val disabled = new Trace(false, "")

  final case class Span(id: Long, name: String, parent: Long, start: Long,
      end: Long, wallNs: Long, caller: Boolean)
  final case class Job(id: Int, start: Long, end: Long, span: Option[Long])

  /** Milliseconds of [lo, hi] covered by the union of `ivs`. */
  def coveredMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }

  /** Wait until Spark's listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
