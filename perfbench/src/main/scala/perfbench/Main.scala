package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; run.py builds it and checks the outputs
  * against their oracles.
  *
  * Usage: perfbench.Main <phase,...> <seed> <seconds> <trace 0|1>
  *          <size full|smoke> <data dir> <smoke data dir> <ms per bucket>
  *          <work dir> <result file>
  *
  * Runs each phase (realtime_signals, training_build, corpus_lifecycle)
  * and writes every reading, the run stamp and the outputs to check
  * into the result file. The first phase is measured on the data dir
  * after its warm pass (the training build is measured cold); a later
  * phase (traced runs only) runs its minimum on the smoke tables. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(phaseArg, seedArg, secondsArg, traceArg, size, dataDir, smokeDir, bucketMsArg,
      work, resultFile) = args
    val phases = phaseArg.split(",").toSeq
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val smoke = size == "smoke"
    val trace = new Trace(traceArg == "1", s"$phaseArg-$seed")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(s"local[$cpus]", cpus)
    trace.install(spark)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    var readings = Map.empty[String, Double]
    var stamp = Map[String, Any](
      "nproc" -> cpus,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark" -> settings.map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap)
    var attempted = 0L
    var failed = 0L
    var outputs = Map.empty[String, Map[String, String]]
    var setupS: Option[Double] = None // set by the first phase
    def setupDone(): Unit =
      if (setupS.isEmpty) setupS = Some((System.currentTimeMillis() - jvmStart) / 1000.0)

    phases.zipWithIndex.foreach { case (phase, k) =>
      // a later phase of a traced run is a minimal pass on the smoke
      // tables without a warm pass of its own: it is there for its spans
      val primary = k == 0
      val window = if (primary) seconds else 0.0
      val host0 = Host.sample()
      val p0 = System.nanoTime()
      // (what the phase measured, the input tables its outputs came from)
      val (r, data) = phase match {
        case "realtime_signals" =>
          (Realtime.run(spark, work, seed, if (primary) seconds else 2.0,
            if (primary && !smoke) Realtime.Drains else 1, bucketMsArg.toLong, trace, setupDone _), "")
        case "training_build" =>
          // the build is measured cold, as a training job runs it: set-up
          // ends when the session is up
          setupDone()
          val data = if (primary) dataDir else smokeDir
          (Training.run(spark, data, work, window, if (primary) Training.MinScores else 3, trace), data)
        case "corpus_lifecycle" =>
          val subset = Corpus.subsetDir(spark, smokeDir, s"$work/warm", Corpus.WarmIds)
          if (primary) {
            Corpus.cycle(spark, subset, Corpus.ivfStandingDir(spark, subset, s"$work/warm"),
              s"$work/warm/corpus", 1, seed, Trace.disabled)
            setupDone()
          }
          val data = if (primary) dataDir else subset
          (Corpus.run(spark, data, work, window, if (smoke || !primary) 2 else 4, seed, trace), data)
      }
      readings ++= r.readings
      stamp ++= r.stamp ++ Host.delta(host0, Host.sample()).map { case (key, v) => s"$phase.$key" -> v } +
        (s"$phase.wall_s" -> (System.nanoTime() - p0) / 1e9)
      attempted += r.attempted
      failed += r.failed
      outputs ++= r.outputs.map { case (q, path) =>
        q -> Map("path" -> path, "data" -> data, "oracle" -> graft.SparkEntry.oracleSql(q))
      }
    }
    readings += "setup_s" -> setupS.get

    if (trace.enabled) {
      Trace.drain(spark)
      trace.summarize().foreach { case (span, ms) =>
        ms.foreach { case (k, v) => readings += s"$span.$k" -> v }
      }
      if (phases.contains("realtime_signals")) readings ++= Realtime.streamingMeasures(trace, "realtime")
      writeSpans(trace, s"$work/spans.json")
    }
    spark.stop()

    if (trace.enabled && phases.contains("realtime_signals")) {
      val one = session("local[1]", 1)
      try readings += "StreamingPipeline.referenceDag.local1_catchup_events_per_s" ->
        Realtime.catchupBaseline(one, work, seed)
      finally one.stop()
    }

    writeJson(resultFile, Map(
      "readings" -> readings, "stamp" -> stamp, "attempted" -> attempted,
      "failed" -> failed, "outputs" -> outputs))
  }

  private def writeJson(path: String, value: Any): Unit = {
    val out = new PrintWriter(new File(path))
    try out.println(org.json4s.jackson.Serialization.write(value.asInstanceOf[AnyRef])(org.json4s.DefaultFormats))
    finally out.close()
  }

  /** The Spark settings that shape the numbers, recorded in the stamp. */
  val settings: Seq[String] = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.adaptive.enabled")

  def session(master: String, partitions: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val s = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def writeSpans(trace: Trace, path: String): Unit =
    writeJson(path, Map("run_id" -> trace.runId, "spans" -> trace.spanRecords.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.start,
        "end_ms" -> s.end, "wall_ms" -> s.wallNs / 1e6, "run_id" -> trace.runId)
    }))
}

/** What one phase measured: its readings, stamp entries, operations
  * attempted and failed, and the outputs run.py checks against the
  * registered oracles (query name -> parquet directory). */
final case class PhaseResult(readings: Map[String, Double], stamp: Map[String, Any],
    attempted: Long, failed: Long, outputs: Map[String, String] = Map.empty)

/** Host load over a phase, read from /proc: steal share and loadavg. */
object Host {
  final case class Sample(cpu: Array[Long], load1: Double)

  def sample(): Sample = {
    def read(p: String) = scala.util.Try(scala.io.Source.fromFile(p).getLines().next()).getOrElse("")
    val cpu = read("/proc/stat").split("\\s+").drop(1).flatMap(_.toLongOption)
    val load = read("/proc/loadavg").split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)
    Sample(cpu, load)
  }

  def delta(a: Sample, b: Sample): Map[String, Any] = {
    val d = b.cpu.zipAll(a.cpu, 0L, 0L).map { case (x, y) => x - y }
    val total = d.take(8).sum.toDouble
    Map("steal_pct" -> (if (total > 0 && d.length > 7) 100.0 * d(7) / total else -1.0),
      "loadavg_start" -> a.load1, "loadavg_end" -> b.load1)
  }
}
