package graft

import org.apache.spark.GraftTaskIO

/** Gates for the bench's per-query I/O attribution (GraftTaskIO):
  * the counters must see parquet input and shuffle traffic, and the
  * bus-drained snapshot protocol must attribute a job's bytes to the
  * delta taken around it — the property Bench's "queries_io" field
  * relies on for per-query numbers — and list exactly the jobs that
  * ran inside it, the records QBench's per-job lines come from. */
class TaskIoSpec extends SparkSpec {

  test("snapshot deltas attribute a job's input and shuffle bytes to its window") {
    val c = GraftTaskIO.install(spark)
    try {
      // a parquet scan + a wide groupBy: both input and shuffle traffic;
      // the frame (and its schema read) is built before the window, so
      // the window holds the collect's jobs only
      val grouped = ops.Core.documents(spark, sf0001)
        .groupBy("source").agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.col("text"))))
      val s0 = GraftTaskIO.snapshot(spark, c)
      grouped.collect()
      val d1 = GraftTaskIO.snapshot(spark, c) - s0
      assert(d1.input > 0, s"parquet scan bytes not counted: $d1")
      assert(d1.shuffleWrite > 0 && d1.shuffleRead > 0,
        s"groupBy shuffle bytes not counted: $d1")
      // the job records QBench decomposes: every job in the window,
      // each with its wall interval, tasks and call site
      assert(d1.jobs.nonEmpty, s"groupBy window lists no jobs: $d1")
      d1.jobs.foreach { j =>
        assert(j.end >= j.start && j.tasks > 0 && j.callSite.nonEmpty, s"bad job record: $j")
      }
      // under AQE each stage job is submitted from Spark's own thread;
      // its record is still named by the action's call site
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      d1.jobs.foreach { j =>
        assert(!j.callSite.contains("CompletableFuture") && j.callSite.contains("TaskIoSpec.scala"),
          s"job not named by its action: $j")
      }

      // a windowed no-op on cached memory: no NEW parquet input may be
      // attributed to this window beyond the scan it actually does
      val s2 = GraftTaskIO.snapshot(spark, c)
      spark.range(1000).selectExpr("sum(id)").collect()
      val d2 = GraftTaskIO.snapshot(spark, c) - s2
      assert(d2.input == 0, s"range scan attributed phantom input bytes: $d2")
      assert(d2.spill == 0, s"trivial job attributed phantom spill: $d2")

      // a window around no Spark action lists no job
      val s3 = GraftTaskIO.snapshot(spark, c)
      val d3 = GraftTaskIO.snapshot(spark, c) - s3
      assert(d3.jobs.isEmpty, s"window without an action lists jobs: ${d3.jobs}")
      // QBench's driver gap: rep wall time covered by no job, overlaps
      // counted once, jobs clipped to the window
      val jobs = Seq((5L, 20L), (10L, 30L), (40L, 50L), (95L, 120L))
        .map { case (a, b) => GraftTaskIO.Job(0, a, b, 1, "x") }
      assert(QBench.uncoveredMs(jobs, 0L, 100L) == 100L - 25L - 10L - 5L)
    } finally spark.sparkContext.removeSparkListener(c)
  }
}
