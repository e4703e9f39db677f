package graft

import org.apache.spark.GraftTaskIO

/** Single-query cold-JVM bench: the measurement tool behind the
  * "measured cold-JVM at sf0.1" comments throughout the operator
  * modules. `run / fork := true` gives every `runMain` a fresh JVM, so
  * two invocations A/B two builds without JIT or page-cache
  * cross-talk beyond the OS file cache (identical for both sides).
  *
  * Usage: runMain graft.QBench <sfDir> <query> [reps=3]
  * `query` is a SparkEntry.queries key. Warms the SAME query at the
  * sf0.001 sibling first (like Bench's family warmup), then times
  * `reps` runs — rep0 carries any residual one-time cost, the min is
  * the steady state. The last rep is also decomposed per Spark job
  * (GraftTaskIO's job records): one stderr line per job with its wall
  * ms, the gap since the previous job ended (pure driver/FS time; the
  * first job's gap runs from the rep start, so it holds plan
  * construction), its task count and call site. The final stdout JSON
  * line carries every rep timing plus the last rep's `jobs`, `job_ms`
  * (summed job wall time) and `driver_gap_ms` (rep wall time covered
  * by no job — perfbench's meaning). For the probe queries, whose cost
  * is dozens of small actions rather than one big scan, the gap is
  * usually the number that moves.
  */
object QBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QBench <sfDir> <query> [reps]")
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 1, s"QBench: reps must be >= 1, got $reps")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(
      s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val spark = SparkEntry.toolSession()
    val io = GraftTaskIO.install(spark)
    val warm = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (warm.isDirectory) fn(spark, warm.getPath).count()
    else System.err.println(
      s"[qbench] WARNING: no sf0.001 sibling of $sfDir — warmup skipped, rep0 absorbs JIT")
    def rep(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val early = (1 until reps).map(_ => rep())
    val s0 = GraftTaskIO.snapshot(spark, io)
    val w0 = System.currentTimeMillis()
    val last = rep()
    val w1 = System.currentTimeMillis()
    val jobs = (GraftTaskIO.snapshot(spark, io) - s0).jobs.sortBy(_.start)
    var prevEnd = w0
    jobs.foreach { j =>
      System.err.println(f"[qbench] job ${j.id}%5d ${j.end - j.start}%7d ms " +
        f"gap ${j.start - prevEnd}%6d ms ${j.tasks}%5d tasks  ${j.callSite}")
      prevEnd = math.max(prevEnd, j.end)
    }
    val times = early :+ last
    println(s"""{"query":"$name","sf":"$sfDir","rows":${times.head._2},""" +
      s""""reps":[${times.map(t => f"${t._1}%.3f").mkString(",")}],""" +
      s""""min":${f"${times.map(_._1).min}%.3f"},"jobs":${jobs.size},""" +
      s""""job_ms":${jobs.map(j => j.end - j.start).sum},""" +
      s""""driver_gap_ms":${uncoveredMs(jobs, w0, w1)}}""")
    spark.stop()
  }

  /** Milliseconds of [lo, hi] during which none of `jobs` ran. */
  private[graft] def uncoveredMs(jobs: Seq[GraftTaskIO.Job], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    jobs.sortBy(_.start).foreach { j =>
      val b = math.min(j.end, hi)
      if (b > reach) { covered += b - math.max(j.start, reach); reach = b }
    }
    (hi - lo) - covered
  }
}
