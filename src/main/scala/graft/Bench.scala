package graft

import org.apache.spark.sql.SparkSession

/** Round-over-round total context: the per-round total grows with the
  * registry, so compare SHARED queries, not totals. r13 best run at
  * sf0.1 (BATCH section bracketed by clean markers — warm2 0.219,
  * pre-stream 0.232; the streaming-side markers read 0.278/0.360, so
  * the run self-declares contaminated and its streaming numbers are
  * lower bounds): total 89.6s over 121 queries vs the r12 clean
  * 96.8s/120q — ~12% better on shared queries DESPITE the new
  * interval_join_pivot costing 4.3s. Where it came from: the r13
  * train-once sidecars — the text cluster table (dedup_apply rep1
  * 2.37 -> 0.33s, doc_attributes 2.0-2.3 -> 0.65s in-bench) and the
  * per-tier embedding pair tables (embed_dedup_clusters_hirecall
  * 6.66 -> 4.30s, embed_dedup_clusters_strict 3.94 -> 1.35s; each
  * tier's generator now builds ONCE and rep1 of whichever query runs
  * first carries it, visible in probe_build_sec). Hot spots now:
  * embed_dedup_clusters_hirecall 4.30s, interval_join_pivot 4.30s
  * (fixture-density gate, see its scaladoc), ngram_jaccard_pairs
  * 4.03s (the documented verification twin). Streaming (same run,
  * markers marginal): bars 79.2k ev/s, indfull 34.6k, ivfprobe
  * 3,163 v/s, DAG 2,589, RocksDB 2,112, dag_tuned 13,145 — all at or
  * above the r12 clean bands.
  *
  * Artifact fields: "queries_rep2_load" re-runs any query over 2s
  * once with a load sample (per-query contention adjudication — r8
  * verdict #5); "probe_build_sec" splits construction cost from
  * execution for the _probe queries AND any query with eager
  * construction work >= 0.25s (r12: the BPE training build, the
  * adaptive jaccard profile probe, the cluster loops); "queries_io"
  * (r12) carries [input, shuffle write, shuffle read, disk spill]
  * bytes per query via GraftTaskIO — bytes are the scale-invariant
  * profile of the plan (the r12 clean run spills ZERO bytes across
  * all 120 queries). The "box" block (r13) is SELF-ADJUDICATING:
  * `contaminated` is true iff any stage-adjacent marker (warm2 /
  * pre-stream / mid-dag / post-stream trivial scan) exceeds the 0.25s
  * clean band this box's history established, with the failing marker
  * names in `contaminated_markers` — a graded run either carries
  * clean markers or declares itself untrustworthy, no git archaeology
  * needed; a dirty START marker is retried (bounded, pre-measurement,
  * recorded as warm2_first/warm2_retries) since nothing has been
  * measured yet, and each STAGE marker is the min of 3 scans so it
  * reads box health rather than the adjacent section's own settling
  * (see stageMarkerSec). The FINAL stdout line and the git-tracked twin
  * BENCH_SUMMARY.json are both self-sufficient for contention
  * adjudication: the twin holds the FULL record, the final line folds
  * in rep2/load for the costliest queries under an ENFORCED <= 1900
  * char budget (r11 verdict #3: three rounds of parsed:null from a
  * fixed-format line overflowing the driver's ~2KB tail window); a
  * failed query (sec=-1) is excluded from the headline total and
  * listed in "queries_failed" instead of silently deflating it. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.toolSession()
    // Warm up JIT/codegen + parquet reader paths so the first measured
    // query doesn't absorb one-time session cost (~7s on this box).
    // Warm at the smallest sibling scale factor of the bench dir (not a
    // hardcoded path): a missing warm dir is WARNED about and the
    // family warmup is SKIPPED (not silently run at measured scale,
    // which would both double bench time and pre-warm the page cache
    // for the run).
    // Box-health marker (r6 verdict #4): the recorded r6 bench ran 1.46x
    // uniformly slower than a clean run of IDENTICAL plans — box
    // contention, not regression, but the artifact alone couldn't prove
    // it. Time the same trivial scan twice (after the first JVM-warming
    // rep, its cost is pure box) and record both timings plus the OS
    // load average IN the JSON: a contaminated run shows warm2 far off
    // its usual ~0.1s and/or load >> core count, identifiable without
    // access to a sibling clean run.
    def timeTrivialScan(): Double = trivialScanSec(spark)
    val warmDirOpt = {
      val parent = new java.io.File(sfDir).getParentFile
      val candidate = new java.io.File(parent, "sf0.001")
      if (candidate.isDirectory) Some(candidate.getPath)
      else {
        System.err.println(
          s"[bench] WARNING: no sf0.001 sibling of $sfDir — family warmup skipped, " +
            "first dedup/similarity query will absorb ~4s of one-time JIT")
        None
      }
    }
    // Self-adjudication band (r13, VERDICT r12 #1): the clean trivial-
    // scan cost on this box is ~0.12-0.23s after JVM warmup; a marker
    // above 0.25s means host-side contention (CPU steal on the shared
    // host) was active at that point of the run. Four rounds of
    // contamination adjudication needed git archaeology because the
    // artifact measured its markers but never ACTED on them — now the
    // run (a) retries the START marker a bounded number of times, so a
    // transient blip before any measurement doesn't condemn a run that
    // hasn't begun, and (b) stamps `contaminated` + the failing marker
    // names into BOTH artifact lines, so the driver's BENCH_rN.json is
    // self-declaring either way.
    val cleanScanMax = 0.25
    // Per-SECTION steal accounting (r14, VERDICT r13 #2): the point-
    // sample markers cannot see contention that lands INSIDE a section
    // and clears before the marker fires — the driver's r13 capture was
    // marker-clean yet ran 21s slower than the same-source twin with
    // streaming 3-4x down. /proc/stat's aggregate steal counter is the
    // DIRECT signal: cumulative jiffies the hypervisor withheld from
    // this guest, summed over all 32 vCPUs. Snapshot at each section
    // boundary; a section whose steal delta exceeds stealBandPct of its
    // wall-clock capacity (elapsed x HZ x ncpu) positively shows
    // host-side contention and flips the contaminated verdict with a
    // steal_<section> marker name. Band: 1.5% — idle samples on this
    // box read 0 steal, while the documented contamination episodes run
    // 1-6% instantaneous; sys jiffies ride along for diagnosis only
    // (high sys is our own kernel time, not a neighbor's).
    val stealBandPct = 1.5
    // capacity denominator = host-visible CPUs, counted as the cpuN
    // lines in /proc/stat (r15, ADVICE r14): the steal field
    // aggregates over ALL host-visible CPUs, so in a cgroup/cpuset-
    // limited JVM availableProcessors() undercounts the denominator
    // and inflates stealPct past the 1.5% band. HZ=100 is the fixed
    // Linux USER_HZ ABI value (sysconf(_SC_CLK_TCK) — compile-time
    // constant on every mainstream kernel), assumed below.
    val ncpu = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val n = src.getLines().count(_.matches("cpu\\d+\\s.*"))
        if (n > 0) n else Runtime.getRuntime.availableProcessors()
      } finally src.close()
    } catch { case _: Throwable => Runtime.getRuntime.availableProcessors() }
    def stealSys(): (Long, Long) = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else -1L, f(2))
      } finally src.close()
    } catch { case _: Throwable => (-1L, -1L) }
    case class SectionCpu(steal: Long, sys: Long, sec: Double) {
      def stealPct: Double =
        if (steal < 0 || sec <= 0) -1.0 else 100.0 * steal / (sec * 100.0 * ncpu)
      def sysPct: Double =
        if (sys < 0 || sec <= 0) -1.0 else 100.0 * sys / (sec * 100.0 * ncpu)
    }
    val sections = scala.collection.mutable.LinkedHashMap.empty[String, SectionCpu]
    var (lastSteal, lastSys) = stealSys()
    var lastT = System.nanoTime()
    def endSection(name: String): Unit = {
      val (s, y) = stealSys()
      val now = System.nanoTime()
      val cpu = SectionCpu(
        if (s >= 0 && lastSteal >= 0) s - lastSteal else -1L,
        if (y >= 0 && lastSys >= 0) y - lastSys else -1L,
        (now - lastT) / 1e9)
      sections(name) = cpu
      System.err.println(f"[bench] section $name: ${cpu.sec}%.1f s " +
        f"steal=${cpu.steal} jiffies (${cpu.stealPct}%.2f%%) sys=${cpu.sysPct}%.2f%%")
      lastSteal = s; lastSys = y; lastT = now
    }
    // Steal-aware PRE-FLIGHT (r18, VERDICT r17 #2 / builder backlog #5):
    // four of the r17 session's full-bench attempts launched into the
    // host's steal-burst regime and self-flagged contaminated — the
    // markers adjudicate honestly, but a junk headline number still
    // costs a full ~8-minute run. Before anything is measured, sample
    // /proc/stat steal over short windows; while the instantaneous
    // steal exceeds the pre-flight band, wait and re-sample (bounded).
    // Nothing has run yet, so waiting out a dirty window cannot bias
    // the measurement — it only refuses to START into one. The full
    // trail (every sampled pct + retries + whether we gave up) is
    // stamped into the box block: a run that proceeded dirty after the
    // bound says so explicitly instead of relying on post-hoc markers
    // alone. Band 0.5%: stricter than the in-run section band (1.5%)
    // because pre-flight is free to wait, and the graded record should
    // start clean, not borderline.
    val preflightBandPct = 0.5
    val preflightMaxRetries = 20
    def sampleStealPct(windowMs: Long): Double = {
      val (s0, _) = stealSys()
      Thread.sleep(windowMs)
      val (s1, _) = stealSys()
      if (s0 < 0 || s1 < 0) -1.0
      else 100.0 * (s1 - s0) / (windowMs / 1000.0 * 100.0 * ncpu)
    }
    val preflightSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    var preflightRetries = 0
    var preflightPct = sampleStealPct(2000)
    preflightSamples += preflightPct
    while (preflightPct > preflightBandPct && preflightRetries < preflightMaxRetries) {
      preflightRetries += 1
      System.err.println(f"[bench] pre-flight steal $preflightPct%.3f%% > $preflightBandPct%% " +
        f"— dirty window, waiting (retry $preflightRetries/$preflightMaxRetries)")
      Thread.sleep(13000)
      preflightPct = sampleStealPct(2000)
      preflightSamples += preflightPct
    }
    val preflightGaveUp = preflightPct > preflightBandPct
    if (preflightGaveUp)
      System.err.println(f"[bench] pre-flight GAVE UP after $preflightRetries retries " +
        f"(last steal $preflightPct%.3f%%) — proceeding, run will carry the trail")
    else
      System.err.println(f"[bench] pre-flight steal $preflightPct%.3f%% (clean) " +
        f"after $preflightRetries retries")
    // reset the section accounting so the pre-flight wait itself is not
    // charged to the warm section
    locally { val (s, y) = stealSys(); lastSteal = s; lastSys = y; lastT = System.nanoTime() }
    val (warm1Sec, warm2First) = try {
      val w1 = timeTrivialScan()
      val w2 = timeTrivialScan()
      (w1, w2)
    } catch { case t: Throwable =>
      System.err.println(s"[bench] WARNING: trivial-scan marker failed: $t"); (-1.0, -1.0)
    }
    // bounded start-marker retry: nothing has been measured yet, so
    // waiting out a dirty start improves the run without biasing it;
    // warm2 keeps the FINAL value, warm2_first/warm2_retries record
    // what was observed (honesty: a retried start is visible)
    var warm2Sec = warm2First
    var warm2Retries = 0
    while (warm2Sec > cleanScanMax && warm2Sec >= 0 && warm2Retries < 5) {
      Thread.sleep(2000)
      warm2Retries += 1
      warm2Sec = try timeTrivialScan() catch { case _: Throwable => -1.0 }
      System.err.println(f"[bench] dirty start marker, retry $warm2Retries: warm2=$warm2Sec%.3f s")
    }
    val startLoad = loadAvg()
    System.err.println(f"[bench] box marker: warm1=$warm1Sec%.3f s warm2=$warm2Sec%.3f s load_avg=$startLoad%.2f")
    try {
      val ev = ops.Core.events(spark, sfDir)
      ev.groupBy("event_type").count().collect()
      // exercise window + broadcast-join codegen paths too, so the
      // first measured query doesn't absorb their JIT cost
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("ts")
      val small = ev.limit(100).select(
        org.apache.spark.sql.functions.col("event_id").as("k"))
      ev.limit(10000)
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .join(org.apache.spark.sql.functions.broadcast(small),
          org.apache.spark.sql.functions.col("event_id") ===
            org.apache.spark.sql.functions.col("k"), "left_semi")
        .count()
      // JIT-warm the dedup/similarity family at the smallest scale
      // factor: the HOF lambda interpreters, array ops, poly_hash /
      // dot_product codegen, and the pair joins each cost multiple
      // seconds of one-time compilation that would otherwise land on
      // whichever family query the measurement loop reaches first.
      warmDirOpt.foreach { warmDir =>
        ops.TextDedup.ngramJaccardPairs(spark, warmDir).count()
        ops.TextDedup.simhashPairs(spark, warmDir).count()
        ops.TextDedup.boilerplateNgrams(spark, warmDir).count()
        ops.TextDedup.splitContamination(spark, warmDir).count()
        ops.Similarity.cosineTopK(spark, warmDir).count()
        ops.Similarity.ivfTopK(spark, warmDir).count()
        ops.Similarity.cosineNearDupPairs(spark, warmDir).count()
        ops.Similarity.annSq8TopK(spark, warmDir).count()
        ops.Similarity.embedDedupClusters(spark, warmDir).count()
        ops.Mixture.sourceSimilarity(spark, warmDir).count()
        ops.TextDedup.dedupApply(spark, warmDir).count()
      }
    } catch {
      case t: Throwable =>
        System.err.println(s"[bench] WARNING: warmup failed: $t")
    }
    endSection("warm")
    // Per-query artifact decomposition (r8 verdict #5/#6):
    //  - build_sec: DataFrame-CONSTRUCTION time, nonzero for the
    //    *_probe queries, which materialize their temp-dir index at
    //    plan-construction. The operational number at scale is
    //    probe-only (the index build is periodic, the probe is
    //    per-batch), so the artifact must let the two be separated;
    //    reported as "probe_build_sec" for the probe queries.
    //  - rep2/load: any query whose first rep exceeds 2s is re-run
    //    once and the OS load average sampled, so a single
    //    box-contaminated query can be convicted (rep1 >> rep2 with
    //    high load) or cleared (rep1 ~ rep2) from the artifact alone
    //    — the stage-adjacent-marker protocol, per query. "queries"/
    //    "value" stay REP-1 cost (construction + execution, the same
    //    semantics as every prior round) for round-over-round
    //    comparability; rep2 is adjudication evidence, not the score.
    //  - io: per-query task-I/O deltas (input / shuffle-write /
    //    shuffle-read / disk-spill bytes, GraftTaskIO) snapshot around
    //    rep1 — seconds say how fast THIS box ran the plan, bytes say
    //    how the plan scales: shuffle volume per input byte is a
    //    property of the plan itself, and a spill column that is 0
    //    across the board proves partitions fit in memory at this SF.
    //    Full-record artifact only (BENCH_SUMMARY.json "queries_io");
    //    the budgeted stdout line is unchanged.
    val repThreshold = 2.0
    val ioCounters = org.apache.spark.GraftTaskIO.install(spark)
    def ioSnap() = org.apache.spark.GraftTaskIO.snapshot(spark, ioCounters)
    case class QMeas(sec: Double, buildSec: Double, rep2: Double, load: Double,
      io: org.apache.spark.GraftTaskIO.Snapshot)
    val meas = SparkEntry.queries.map { case (name, fn) =>
      def onePass(): (Double, Double) = {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val build = (System.nanoTime() - t0) / 1e9
        df.count()
        ((System.nanoTime() - t0) / 1e9, build)
      }
      val io0 = ioSnap()
      val (sec, buildSec) = try onePass() catch { case _: Throwable => (-1.0, -1.0) }
      val io = ioSnap() - io0
      val (rep2, load) =
        if (sec > repThreshold) {
          val r2 = try onePass()._1 catch { case _: Throwable => -1.0 }
          (r2, loadAvg())
        } else (-1.0, -1.0)
      // per-query progress on stderr: survives even if the stdout JSON
      // line is cut, and shows live progress during the ~8 min run
      System.err.println(f"[bench] $name%s $sec%.3f s" +
        (if (rep2 >= 0) f" (rep2=$rep2%.3f load=$load%.2f)" else ""))
      name -> QMeas(sec, buildSec, rep2, load, io)
    }
    endSection("batch")
    val results = meas.map { case (k, m) => k -> m.sec }
    // A failed query reports sec = -1.0 in the per-query map (the
    // driver's signal) but MUST NOT be summed into the headline total —
    // r10 ADVICE: a single failure would otherwise silently DEFLATE the
    // total by 1s and corrupt round-over-round comparison. The total is
    // the sum over succeeded queries only, and failures are listed by
    // name in "queries_failed" in both artifact lines.
    val failedNames = meas.collect { case (k, m) if m.sec < 0 => k }.toSeq.sorted
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Round 4's capture lost the HEAD of this line (a bounded tail
    // window kept only the last ~3 KB: the leading "metric":"total"
    // and the first 17 per-query timings were cut). Three fixes:
    // (1) compact per-query format — 4-decimal seconds instead of
    // full double repr roughly halves the map; (2) field ORDER puts
    // the per-query map first and the headline totals/streaming LAST,
    // so any head-truncation eats oldest timings, never the totals;
    // (3) (r6 verdict #3) the per-query map is sorted ASCENDING by
    // measured cost, so head-truncation eats the cheapest queries and
    // every expensive query lands adjacent to the totals inside the
    // tail window. JSON parsers are order-insensitive, so the driver
    // is unaffected.
    val sortedQs = results.toSeq.sortBy(_._2)
    val qs = sortedQs
      .map { case (k, v) => s"\"" + k + "\":" + f4(v) }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // every registered query that builds a persisted index/baseline at
    // plan-construction reports its build-vs-probe split (r8 verdict
    // #6). Derived from the naming convention rather than a literal
    // list: the r9 review caught the list silently missing the five
    // new merge/append probes, dropping their (dominant) build cost
    // from the artifact. r12 widens the rule beyond the `_probe`
    // suffix: ANY query with material construction cost (>= 0.25s)
    // reports its split — the train-once BPE artifact (and the
    // adaptive jaccard profile probe) run eager construction jobs the
    // name rule alone would hide inside rep1.
    val probeNames = SparkEntry.queries.keySet.filter(_.endsWith("_probe"))
    val probeBuildJson = meas.collect {
      case (k, m) if probeNames(k) || m.buildSec >= 0.25 => s"\"$k\":${f4(m.buildSec)}"
    }.mkString("{", ",", "}")
    // [rep2_sec, load_avg] for every query re-run under the 2s rule
    val repsJson = meas.collect {
      case (k, m) if m.rep2 >= 0 => s"\"$k\":[${f4(m.rep2)},${f4(m.load)}]"
    }.mkString("{", ",", "}")
    // [input, shuffle_write, shuffle_read, disk_spill] bytes per query
    // (rep-1 task deltas), same cheap-first order as "queries"
    val ioJson = sortedQs.map { case (k, _) =>
      val io = meas(k).io
      s"\"$k\":[${io.input},${io.shuffleWrite},${io.shuffleRead},${io.spill}]"
    }.mkString("{", ",", "}")
    // Stage-adjacent box markers (VERDICT r7 #5): the start-of-run
    // marker says nothing about contention arriving minutes later
    // during the streaming section (r7: DAG 867 ev/s recorded vs
    // 2,030 clean, start marker clean). Re-time the trivial scan
    // immediately before and after the streaming section here, and
    // between the DAG backends inside streamingBenchBody, so a
    // late-run contention event is identifiable from the artifact.
    val preStreamSec = stageMarkerSec(spark, "pre-stream")
    val preStreamLoad = loadAvg()
    System.err.println(f"[bench] pre-stream marker: scan=$preStreamSec%.3f s load=$preStreamLoad%.2f")
    val (streamingJson, midDagSec, streamEps) =
      try streamingBench(spark)
      catch { case t: Throwable =>
        System.err.println(s"[bench] WARNING: streaming bench failed: $t")
        ("{}", -1.0, Map.empty[String, Double])
      }
    val postStreamSec = stageMarkerSec(spark, "post-stream")
    val postStreamLoad = loadAvg()
    System.err.println(f"[bench] post-stream marker: scan=$postStreamSec%.3f s load=$postStreamLoad%.2f")
    endSection("stream")
    // The self-adjudication verdict (r14 widening, VERDICT r13 #2): a
    // run is clean iff EVERY stage-adjacent marker sits inside the
    // clean band AND no section's /proc/stat steal delta exceeds the
    // steal band — the markers catch sustained contention at section
    // boundaries, the steal deltas catch contention that lands inside
    // a section and clears before the marker (the r13 blind spot: a
    // marker-clean capture 21s slower than its same-source twin).
    // Stamped into the box block, which rides both artifact lines (and
    // the shrink floor), so no future round needs marker archaeology
    // to grade a run. A marker that FAILED outright (-1 after retries)
    // now also flips the verdict as <name>_failed (ADVICE r13: a run
    // whose marker infrastructure is broken must not stamp clean).
    val markerVals = Seq(
      "warm2" -> warm2Sec, "pre_stream" -> preStreamSec,
      "mid_dag" -> midDagSec, "post_stream" -> postStreamSec)
    val stealDirty = sections.collect {
      case (n, c) if c.stealPct > stealBandPct => s"steal_$n"
    }.toSeq
    val dirtyMarkers = markerVals.collect { case (n, v) if v > cleanScanMax => n } ++
      markerVals.collect { case (n, v) if v < 0 => s"${n}_failed" } ++ stealDirty
    val contaminated = dirtyMarkers.nonEmpty
    if (contaminated)
      System.err.println(s"[bench] CONTAMINATED run: markers ${dirtyMarkers.mkString(", ")} " +
        s"outside the clean bands (scan <= $cleanScanMax s, steal <= $stealBandPct%) " +
        "— totals are not comparable round-over-round")
    // streaming floor check (r14, VERDICT r13 #3): the committed
    // isolated clean band — a clean IN-BENCH run (JIT
    // pre-warmed by the batch sweep) always clears the isolated floor,
    // so a metric below it is positively degraded (host steal if a
    // steal_* member agrees, a regression if the run is otherwise
    // clean). Advisory field, not folded into `contaminated`.
    val belowFloor = streamEps.collect {
      case (k, v) if v >= 0 && streamingCleanFloor.get(k).exists(v < _) => s"stream_$k"
    }.toSeq.sorted
    if (belowFloor.nonEmpty)
      System.err.println(s"[bench] streaming below clean floor: ${belowFloor.mkString(", ")}")
    val retryJson =
      if (warm2Retries > 0) s""""warm2_first":${f4(warm2First)},"warm2_retries":$warm2Retries,"""
      else ""
    def sectionJson(f: SectionCpu => String): String =
      sections.map { case (n, c) => s"\"$n\":${f(c)}" }.mkString("{", ",", "}")
    val preflightJson =
      s""""preflight_steal_pct":${preflightSamples.map(f4).mkString("[", ",", "]")},""" +
        s""""preflight_retries":$preflightRetries,"preflight_gave_up":$preflightGaveUp"""
    val boxJson = s"""{"contaminated":$contaminated,""" +
      s""""contaminated_markers":${dirtyMarkers.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""steal_jiffies":${sectionJson(_.steal.toString)},""" +
      s""""steal_pct":${sectionJson(c => f4(c.stealPct))},""" +
      s""""sys_pct":${sectionJson(c => f4(c.sysPct))},""" +
      s""""streaming_below_floor":${belowFloor.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s"""$preflightJson,""" +
      s""""warm1_sec":${f4(warm1Sec)},"warm2_sec":${f4(warm2Sec)},$retryJson"load_avg":${f4(startLoad)},""" +
      s""""pre_stream_sec":${f4(preStreamSec)},"pre_stream_load":${f4(preStreamLoad)},""" +
      s""""mid_dag_sec":${f4(midDagSec)},""" +
      s""""post_stream_sec":${f4(postStreamSec)},"post_stream_load":${f4(postStreamLoad)}}"""
    // COMPACT box form for the budgeted line's shrink ladder (r18,
    // VERDICT r17 #1): the adjudication VERDICT (contaminated flag +
    // failing markers + per-section steal + floor check + pre-flight
    // outcome) in ~1/3 the bytes — the marker timings and load samples
    // live in the file twin.
    val boxCompactJson = s"""{"contaminated":$contaminated,""" +
      s""""contaminated_markers":${dirtyMarkers.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""steal_pct":${sectionJson(c => f4(c.stealPct))},""" +
      s""""streaming_below_floor":${belowFloor.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""preflight_retries":$preflightRetries,"preflight_gave_up":$preflightGaveUp}"""
    // Full artifact line: every per-query timing (cheapest first, so a
    // bounded tail window truncates the cheap head, never the
    // expensive queries or the totals that follow).
    val fullRecord =
      s"""{"queries":$qs,"queries_rep2_load":$repsJson,"queries_failed":$failedJson,""" +
        s""""queries_io":$ioJson,""" +
        s""""probe_build_sec":$probeBuildJson,"streaming":$streamingJson,"box":$boxJson,""" +
        s""""metric":"total","value":${f4(total)},"unit":"sec","n_queries":${results.size},"sf":"$sfDir"}"""
    println(fullRecord)
    // File twin carries the FULL record (r9+r10 verdict #3, twice
    // burned: the driver's bounded tail capture cut the penultimate
    // stdout line both rounds, losing the per-query rep2/load evidence
    // exactly when it was needed to adjudicate contamination). A
    // parse-proof artifact independent of stdout capture: every
    // timing + rep2/load + probe_build + failures. Written to a
    // GIT-TRACKED path (r11 verdict #3: target/ is untracked, so three
    // rounds of full records never made it into the round artifacts —
    // BENCH_SUMMARY.json at the repo root rides the end-of-round
    // snapshot commit instead). Resolved against an explicit repo-root
    // anchor (r13, ADVICE r12: a cwd-relative path silently lands the
    // twin elsewhere when Bench is launched outside the repo root —
    // recreating the very record-loss failure the move fixed), with
    // the absolute path logged either way.
    try {
      val repoDir = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", ".")
      val summaryPath = java.nio.file.Paths
        .get(repoDir, "BENCH_SUMMARY.json").toAbsolutePath.normalize
      java.nio.file.Files.writeString(summaryPath, fullRecord + "\n")
      System.err.println(s"[bench] full record written to $summaryPath")
    } catch { case t: Throwable =>
      System.err.println(s"[bench] WARNING: summary file write failed: $t")
    }
    // FINAL line: a self-contained summary sized to survive the
    // driver's ~2KB tail capture intact (see summaryLine); the file
    // twin above carries everything.
    // compact streaming form for the late shrink steps: just the
    // throughput map (events/sec per surface) — the event counts and
    // raw seconds live in the file twin
    val streamingCompactJson = streamEps.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${k}_eps":${f4(v)}""" }.mkString("{", ",", "}")
    val summary = summaryLine(SummaryParts(total, sfDir, sortedQs.reverse,
      meas.collect { case (k, m) if m.rep2 >= 0 => k -> ((m.rep2, m.load)) }.toSeq,
      failedNames, probeBuildJson, streamingJson, streamingCompactJson, boxJson,
      boxCompactJson))
    System.err.println(
      s"[bench] final summary line: ${summary.length} chars (budget $summaryMaxLen)")
    println(summary)
    spark.stop()
  }

  private def f4(v: Double): String = f"$v%.4f"

  /** The budgeted final line's inputs: the totals, every query's time
    * (costliest first), [rep2, load] per re-run query, the failed
    * names, and the ancillary blocks pre-rendered as JSON. */
  private[graft] final case class SummaryParts(total: Double, sf: String,
      expensiveFirst: Seq[(String, Double)], rep2Load: Seq[(String, (Double, Double))],
      failed: Seq[String], probeBuildJson: String, streamingJson: String,
      streamingCompactJson: String, boxJson: String, boxCompactJson: String)

  /** The driver parses the final stdout line from a ~2KB tail capture. */
  private[graft] val summaryMaxLen = 1900

  /** The final stdout line: a self-contained summary whose length is
    * ENFORCED, not estimated. It keeps the costliest queries
    * individually (what round-over-round grading compares) with their
    * rep2/load adjudication evidence, folds the cheap rest into an
    * aggregate, and carries the streaming/box/headline blocks. While
    * the line exceeds `maxLen` a ladder shrinks it: the ancillary
    * blocks go FIRST (probe_build, then rep2, then the box and
    * streaming verbatim forms fall back to compact twins), and the
    * per-query map shrinks LAST, never below the costliest 8 entries
    * while even one fits. The failed list is capped at 8 names next to
    * its full count, so a systemic breakage cannot flood every step.
    * When pathological query or failed names leave no step inside the
    * budget, the floor drops every name: totals, counts and the compact
    * streaming and box blocks, which are bounded by the fixed surface
    * and section sets and always fit. */
  private[graft] def summaryLine(p: SummaryParts, maxLen: Int = summaryMaxLen): String = {
    val head = s"""{"metric":"total","value":${f4(p.total)},"unit":"sec","""
    val failedJson = p.failed.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    def mkSummary(keepN: Int, repN: Int, probe: Boolean, fullBox: Boolean,
        fullStream: Boolean): String = {
      val kept = p.expensiveFirst.take(keepN)
      val rest = p.expensiveFirst.drop(kept.size)
      val repNames = kept.map(_._1).take(repN).toSet
      val keptJson = kept.map { case (k, v) => s"\"" + k + "\":" + f4(v) }.mkString("{", ",", "}")
      val keptRepsJson = p.rep2Load.collect {
        case (k, (r2, load)) if repNames(k) => s"\"$k\":[${f4(r2)},${f4(load)}]"
      }.mkString("{", ",", "}")
      // rest_sec over SUCCEEDED queries only: failed queries sort to
      // the cheap end as -1.0 sentinels and always land in `rest`, so
      // an unguarded sum would silently deflate the aggregate
      head + s""""sf":"${p.sf}","n_queries":${p.expensiveFirst.size},""" +
        s""""queries":$keptJson,"queries_rest_n":${rest.size},""" +
        s""""queries_rest_sec":${f4(rest.map(_._2).filter(_ >= 0).sum)},""" +
        (if (repN > 0) s""""queries_rep2_load":$keptRepsJson,""" else "") +
        s""""queries_failed_n":${p.failed.size},"queries_failed":$failedJson,""" +
        (if (probe) s""""probe_build_sec":${p.probeBuildJson},""" else "") +
        s""""streaming":${if (fullStream) p.streamingJson else p.streamingCompactJson},""" +
        s""""box":${if (fullBox) p.boxJson else p.boxCompactJson}}"""
    }
    val floor = head + s""""n_queries":${p.expensiveFirst.size},""" +
      s""""queries_rest_sec":${f4(p.expensiveFirst.map(_._2).filter(_ >= 0).sum)},""" +
      s""""queries_failed_n":${p.failed.size},""" +
      s""""streaming":${p.streamingCompactJson},"box":${p.boxCompactJson}}"""
    val shrinkSteps = Seq(
      (16, 10, true, true, true),   // everything
      (16, 10, false, true, true),  // drop probe_build first (file twin has it)
      (16, 0, false, true, true),   // then rep2
      (16, 0, false, false, true)) ++ // then the box falls back to its compact twin
      // then streaming does; only then do kept queries start shrinking
      Seq(16, 14, 12, 10, 8, 7, 6, 5, 4, 3, 2, 1).map(n => (n, 0, false, false, false))
    shrinkSteps.iterator.map((mkSummary _).tupled).find(_.length <= maxLen)
      .getOrElse(floor)
  }

  /** Streaming throughput signal: drive the two headline streaming
    * plans from MemoryStream and report events/sec + micro-batch
    * counts. MemoryStream feeds from the driver, so this measures the
    * stateful-operator pipeline (watermark bookkeeping, windowed agg
    * state, multi-way stream-stream join state), not source I/O —
    * which is the part this library owns; Kafka ingest is the
    * cluster's connector.
    *
    * The r4->r5 dip (bars 72k->61k, DAG 2.53k->2.19k ev/s) was
    * measured down (r5 verdict #4), this streaming section alone in 3
    * cold JVMs at the pinned width with nothing else on the box: bars
    * 30.8k/28.2k/21.1k (+-19% spread between IDENTICAL runs), DAG
    * 2.09k/1.80k/2.19k (+-10%) — and `streamingBars`/`referenceDag`
    * are byte-identical r4->HEAD (git-diffed), so the -16%/-13%
    * round-over-round delta sits inside the run-to-run spread of an
    * unchanged plan: JIT/code-cache state of the shared bench JVM
    * (the batch sweep that precedes this section warms it — absolute
    * section-alone numbers run ~2x lower than in-Bench for the
    * same plan) plus box variance, not a regression. Rep 3's bars low
    * (21.1k) paired with its indfull HIGH (22.5k vs 16.4k/15.1k)
    * shows the noise is anticorrelated across stages, i.e. not a
    * systematic slowdown. */
  /** The box-marker probe: a trivial in-memory scan whose cost after
    * JVM warmup is pure box health (~0.1-0.3s clean on this machine).
    * Timed at run start (warm1/warm2), before the streaming section,
    * between the DAG state-store backends, and at run end — r7's
    * adjudication gap (DAG 867 ev/s recorded vs 2,030 clean, with only
    * a START-of-run marker that looked clean) is exactly the case a
    * stage-adjacent marker convicts or clears from the artifact
    * alone (VERDICT r7 #5). */
  private[graft] def trivialScanSec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(10000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Stage-adjacent marker = MIN of 3 back-to-back trivial scans (r13).
    * A SINGLE scan taken immediately after a heavy section measures
    * that section's own settling — straggler task teardown, listener-
    * bus drain, lingering state-store maintenance — not box health:
    * five consecutive r13 runs flagged pre/mid/post-stream at
    * 0.26-0.50s while vmstat recorded ZERO host steal throughout and
    * the start-of-run warm2 stayed clean (0.17-0.23s), and a 3x heap
    * A/B ruled out GC pressure. The min of three samples reads the
    * settled state (a transient clears by sample 2-3) while sustained
    * HOST contention — the thing the marker exists to catch — inflates
    * all three samples and still trips the 0.25s band. All samples go
    * to stderr so the settling profile stays visible per run. */
  private def stageMarkerSec(spark: SparkSession, name: String): Double = {
    val samples = Seq.fill(3)(trivialScanSec(spark))
    System.err.println(
      f"[bench] $name marker samples: ${samples.map(s => f"$s%.3f").mkString(", ")} s")
    samples.min
  }

  private def loadAvg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** ISOLATED clean floors (r14, VERDICT r13 #3): events/sec of
    * [[streamingBenchBody]] run alone at width 4 (the in-Bench width
    * pin) by the since-retired StreamBench main, N=3 cold JVMs on a
    * steal-clean box — /proc/stat steal deltas 23/26/137 jiffies over
    * ~3 min runs, i.e. <= 0.03% of capacity. Measured (bars /
    * indfull / ivfprobe / dag / rocksdb / tuned ev-or-vec/s):
    *   run1: 34664 / 28651 / 2180 / 2422 / 1998 / 7365
    *   run2: 37574 / 29294 / 2192 / 2346 / 1929 / 7267
    *   run3: 29087 / 28264 / 2053 / 2006 / 1831 / 6889
    * Floor = mean x 0.7 (run spread is ~25% on bars, so min-based
    * floors would sit inside the noise; 0.7x mean keeps every
    * HISTORICAL clean in-Bench value >= 25% above its floor while the
    * r13 degraded driver capture — bars 20.6k, dag 1036, tuned 2070 —
    * flags on three metrics). A clean in-Bench run clears these with
    * margin because the batch sweep pre-warms JIT/codegen for the
    * streaming section (in-Bench clean bars run ~2x isolated); a
    * metric below its floor is positively degraded — host steal if a
    * steal_* verdict member agrees, a plan regression otherwise.
    * Re-record (the same body alone, cold JVMs) after any
    * streaming-plan change.
    *
    * r16 RE-ADJUDICATION (VERDICT r15 #1 — the r15 twin's 17-31%
    * streaming drop): 4 isolated cold-JVM runs at the r15 source,
    * each stamped with its own /proc/stat steal delta, give a clean
    * DOSE-RESPONSE curve (bars / indfull / ivfprobe / dag / rocksdb /
    * tuned ev-or-vec/s @ steal%):
    *   10295/10727/1728/ 675/ 660/5278 @ 4.56% steal
    *   24015/15506/1658/1645/1066/6852 @ 2.09%
    *   32348/25370/2119/2372/1991/6975 @ 0.13%
    *   35299/27102/2169/3135/1880/7582 @ 0.03%
    * The steal-clean runs sit ON the r14 record (means 33.8k/28.7k/
    * 2.1k/2.3k/1.9k/7.2k) — the r15 probe-path changes did NOT
    * regress streaming; the twin drop was host steal arriving in
    * bursts a start/end load marker can miss. Floors UNCHANGED (the
    * clean numbers re-pin the same means); the per-run steal stamp
    * (not just loadavg) is the evidence to capture whenever a
    * streaming record looks low. STREAMBENCH_r16.md holds the run
    * tables, including the final-commit re-confirmation appended
    * when the round's record is taken.
    *
    * fmby (r17, VERDICT r16 #1 — the per-series matrix's first
    * throughput record): [[fmbyBench]] alone at width 4, six
    * steal-stamped cold JVMs on a day the box ran load-correlated
    * steal bursts (idle stamps 0%, in-run stamps 0.09-0.90%):
    * 23435 @ 0.32% / 18432 @ 0.09% / 21721 @ 0.90% / 22028 @ 0.78% /
    * 18992 @ 0.23% / 21061 @ 0.11% ev/s — mean 20.9k, spread 18.4-
    * 23.4k with no clean steal-zero window available (several
    * unstamped runs in a quieter phase read 24.4-25.3k, consistent
    * with the stamped spread being steal-depressed). Width sweep 4 ->
    * 19.7k / 8 -> 20.6k / 16 -> 17.9k on the first (coldest) runs —
    * width 4 keeps the section pin. Floor = 0.7 x the stamped mean
    * (the same convention as the r14 floors), conservative against
    * the burst regime the records were taken in. */
  private val streamingCleanFloor: Map[String, Double] = Map(
    "bars" -> 23600.0, "indfull" -> 20100.0, "ivfprobe" -> 1500.0,
    "dag" -> 1580.0, "dag_rocksdb" -> 1340.0, "dag_tuned" -> 5020.0,
    "fmby" -> 14600.0)

  /** Returns (streaming metrics JSON, mid-DAG marker seconds, metric ->
    * events/sec) — the marker is surfaced separately so the run-level
    * contamination verdict can fold it in alongside the other stage
    * markers, and the throughput map feeds the clean-floor check. */
  private def streamingBench(spark: SparkSession): (String, Double, Map[String, Double]) = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingPipeline
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Stateful streaming pays per-partition state-store overhead every
    // micro-batch, so the right width tracks state VOLUME, not core
    // count. Isolated width sweep on this DAG (dag events/s, HDFS store /
    // RocksDB): width 2 -> 2540/1915, 4 -> 2395/1931, 8 -> 1699/1327,
    // 16 -> 1173/769 — monotone in per-batch store overhead once state
    // fits anywhere. Pin 4 (within ~6% of width 2 on the DAG, better on
    // bars, and keeps parallelism headroom); restore the batch setting
    // after. Re-swept in r5 with the full indicator stack added
    // (indfull events/s, cold JVM): width 2 -> 22.2k, 4 -> 25.5k,
    // 8 -> 21.0k — width 4 stays the pin.
    val batchParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try streamingBenchBody(spark)
    finally spark.conf.set("spark.sql.shuffle.partitions", batchParts)
  }

  /** Drives [[graft.streaming.StreamingPipeline.streamingFeatureMatrixBy]]
    * — the per-series streaming training matrix, the keyed cell of the
    * flagship 2x2 — over a gapless multi-series fixture and returns
    * (events fed, wall seconds). 64 series x 60 bars x 30 events/bar
    * (10s per-series cadence inside 5-min buckets) = 115,200 events in
    * 8 micro-batch chunks: enough series that the (event_type, window)
    * state shuffle actually spreads (VERDICT r16 #1), enough bars per
    * series that the 35-bar sliding frames reach steady state, and the
    * per-series gapless regime the operator's contract requires. State
    * volume at play: 64 series x ~35 in-flight 175-min windows on the
    * frame agg + 64 x in-flight 5-min buckets on the bar agg.
    *
    * SERIES-CARDINALITY SWEEP (r17, width 4, 60 bars per series, cold
    * JVM per point, per-run steal stamps <= ~0.5% unless noted): 64
    * series 22.2k ev/s (0.19%), 512 series 69.3k (0.12%), 1024 series
    * 79.4k (0.51%) — throughput RISES ~3.6x from 64 to 1024 keys at
    * fixed per-series depth and fixed 8-chunk feed, because the
    * per-micro-batch fixed cost (incremental planning + one
    * state-store commit per partition per stateful op) amortizes
    * over the larger keyed batches while per-event work stays flat;
    * 1024 x ~35 in-flight frame windows show no state-store collapse.
    * The 512 -> 1024 flattening (+15%) is the per-event bound
    * (~80k ev/s at width 4) taking over from the per-batch bound — the
    * scale regime a production feed (large batches, many symbols)
    * actually runs in. Full table in STREAMBENCH_r17.md. */
  private[graft] def fmbyBench(spark: SparkSession): (Int, Double) = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val nSeries = 64
    val evPerBar = 30 // one event per 10s per series -> gapless 5-min bars
    val n = nSeries * 60 * evPerBar
    val evs = (0 until n).map { i =>
      val step = i / nSeries // all series advance together: one watermark
      (i.toLong, new java.sql.Timestamp(base + step * 10000L),
        f"s${i % nSeries}%02d", ((i * 31) % 997).toDouble)
    }
    val ms = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val q = graft.streaming.StreamingPipeline.streamingFeatureMatrixBy(
      ms.toDF().toDF("event_id", "ts", "event_type", "value"))
      .writeStream.format("memory").queryName("bench_fmby")
      .outputMode("append").start()
    val (rows, secs) = try {
      val t0 = System.nanoTime()
      evs.grouped(n / 8).foreach(ms.addData(_))
      q.processAllAvailable()
      // clock stops BEFORE the sink count (r17 review): every other
      // streaming metric times exactly through processAllAvailable,
      // and the count is a sanity gate, not part of the work measured
      val sec = (System.nanoTime() - t0) / 1e9
      (spark.table("bench_fmby").count(), sec)
    } finally q.stop()
    require(rows > 0, s"fmby produced no rows over $n events")
    (n, secs)
  }

  private[graft] def streamingBenchBody(spark: SparkSession): (String, Double, Map[String, Double]) = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingPipeline
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def events(n: Int, stepMs: Long) = (0 until n).map { i =>
      (i.toLong, new java.sql.Timestamp(base + i * stepMs), "t" + (i % 4), (i % 1000).toDouble)
    }

    // 1) watermarked tumbling bars (the aggregation the reference
    // pushed out to MariaDB), chunked into multiple micro-batches
    val nBars = 200000
    val ms = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val bars = StreamingPipeline.streamingBars(
      ms.toDF().toDF("event_id", "ts", "event_type", "value"))
    val q1 = bars.writeStream.format("memory").queryName("bench_bars")
      .outputMode("append").start()
    val barsSecs = try {
      val t0 = System.nanoTime()
      events(nBars, 100L).grouped(nBars / 8).foreach(ms.addData(_))
      q1.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    } finally q1.stop()

    // 2) the reference's full consumer DAG: deep joined with 4 aux
    // streams on bucket + [ts, ts+3min], then watermark-bounded dedup.
    // Aux cadence matters: one aux event per 5-min bucket per stream
    // (the reference's polled feeds), so every join stage matches <= 1
    // aux per deep row — a denser aux multiplies the 4-way join
    // output combinatorially (~18^4 with 10s aux), which is an input
    // bug, not a throughput signal
    val nDeep = 20000
    val auxIdx = 0 until nDeep by 300 // deep steps 1s -> one aux per bucket
    def runDag(queryName: String, n: Int, chunks: Int = 4, pivot: Boolean = false): Double = {
      val aIdx = 0 until n by 300
      val deepMs = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
      val auxMs = (1 to 4).map(_ => MemoryStream[(java.sql.Timestamp, Double)])
      val auxes = auxMs.zipWithIndex.map { case (m, i) =>
        s"aux$i" -> m.toDF().toDF("ts", s"aux${i}_v")
      }
      val deepDf = deepMs.toDF().toDF("event_id", "ts", "event_type", "value")
      val dag =
        if (pivot) StreamingPipeline.referenceDagPivot(deepDf, auxes)
        else StreamingPipeline.referenceDag(deepDf, auxes)
      val q2 = dag.writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      try {
        val t0 = System.nanoTime()
        events(n, 1000L).grouped(math.max(n / chunks, 1)).foreach(deepMs.addData(_))
        auxMs.foreach { m =>
          m.addData(aIdx.map(i => (new java.sql.Timestamp(base + i * 1000L + 30000L), i.toDouble)))
        }
        q2.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      } finally q2.stop()
    }
    // A/B the state-store backend on the 9-stateful-op DAG (5 joins +
    // dedup): default HDFS-backed in-heap store vs RocksDB (the
    // store that spills state beyond heap — at cluster scale the
    // operational choice; here the same micro-batch cadence, so the
    // comparison isolates per-batch store overhead: snapshot/commit
    // cost per partition per operator).
    // UNTIMED warm pass first: both timed runs share one JVM, so
    // without it the first backend measured would absorb all
    // whole-stage-codegen/JIT for the 9-operator DAG and the second
    // would be systematically flattered — the same-JVM ordering bias
    // QBench exists to avoid.
    runDag("bench_dag_warm", nDeep / 10)
    val dagSecs = runDag("bench_dag", nDeep)
    // stage-adjacent marker between the two DAG backends (VERDICT r7
    // #5): if contention lands mid-section, this timing separates "the
    // HDFS run was clean, rocks was contended" from a dirty whole run
    val midDagMarkerSec = stageMarkerSec(spark, "mid-dag")
    System.err.println(f"[bench] mid-dag marker: scan=$midDagMarkerSec%.3f s load=${loadAvg()}%.2f")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    // isolated failure domain: a RocksDB-only problem (e.g. no
    // rocksdbjni) reports -1 for the rocks numbers instead of
    // discarding the bars/dag metrics already measured
    val dagRocksSecs = try {
      val prev = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try runDag("bench_dag_rocks", nDeep)
      finally prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    } catch {
      case t: Throwable =>
        System.err.println(s"[bench] WARNING: RocksDB DAG run failed: $t"); -1.0
    }
    // The tuned regime the r11 forced-batch probe + r12 structural
    // profile proved out: the pivot DAG shape (referenceDagPivot — one tagged
    // interval join + one windowed pivot agg replacing 4 widening
    // joins + full-row dedup), batch size up (one MemoryStream chunk
    // instead of four — the trigger-interval lever in driver form),
    // and the no-data flush cycle off
    // (StreamingPipeline.dagThroughputConf). Same 20k events, so
    // dag_tuned_* vs dag_* in the artifact is a direct measure of how
    // much of the default-regime cost is DAG shape + micro-batch
    // cadence rather than per-event join work. Conf is restored after:
    // the default-cadence numbers above stay comparable across rounds.
    // isolated failure domain like the RocksDB run: a tuned-regime
    // failure (the pivot is the newest streaming plan) must report
    // -1.0, not discard the bars/dag/rocks numbers already measured
    val dagTunedSecs = try {
      val prevConfs = StreamingPipeline.dagThroughputConf.keys
        .map(k => k -> spark.conf.getOption(k)).toMap
      StreamingPipeline.dagThroughputConf.foreach { case (k, v) => spark.conf.set(k, v) }
      try runDag("bench_dag_tuned", nDeep, chunks = 1, pivot = true)
      finally prevConfs.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    } catch {
      case t: Throwable =>
        System.err.println(s"[bench] WARNING: tuned DAG run failed: $t"); -1.0
    }

    // 3) the full in-stream indicator stack (r5): bars + the 100-min
    // sliding collect_list agg deriving Bollinger/stoch/ATR — the
    // deepest per-event work of the streaming layer. 1s event cadence
    // -> 300 events/bar, ~333 bars, so the second agg's window state
    // is exercised across many closed frames.
    val nInd = 100000
    val indMs = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val ind = StreamingPipeline.streamingIndicatorsFull(
      indMs.toDF().toDF("event_id", "ts", "event_type", "value"))
    val q3 = ind.writeStream.format("memory").queryName("bench_indfull")
      .outputMode("append").start()
    val indSecs = try {
      val t0 = System.nanoTime()
      events(nInd, 1000L).grouped(nInd / 8).foreach(indMs.addData(_))
      q3.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    } finally q3.stop()

    // 3b) the per-SERIES streaming training matrix (r17, VERDICT r16
    // #1): the keyed 2x2 cell — the form a production cluster runs —
    // was the one shipped streaming surface with zero throughput
    // evidence. 64-series gapless fixture so the (event_type, window)
    // state shuffle genuinely spreads; isolated failure domain like
    // the RocksDB/tuned runs (newest streaming plan must not discard
    // the metrics already measured).
    val (fmbyN, fmbySecs) = try fmbyBench(spark)
    catch {
      case t: Throwable =>
        System.err.println(s"[bench] WARNING: fmby stream failed: $t"); (0, -1.0)
    }
    val fmbyEps = if (fmbySecs > 0) fmbyN / fmbySecs else -1.0

    // 4) streaming ANN probe (r6): incoming vectors vs the persisted
    // cell-partitioned IVF index inside foreachBatch — per-batch cost
    // is centroid argmin (map-side) + the pruned index join + top-k.
    // Probe load: the corpus's vectors replicated 8x under fresh qids,
    // fed in 8 REAL micro-batches — processAllAvailable() is
    // interleaved after each addData group (ADVICE r6: batching all
    // addData first would drain everything as ONE batch and broadcast
    // the full 8x query set at once, overstating per-batch probe
    // cost). Isolated failure domain like RocksDB.
    val (probeN, probeSecs) = try {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val tmp = java.nio.file.Files.createTempDirectory("bench_ivfprobe").toString
      graft.ops.Similarity.writeIvfIndex(spark, sfDir, s"$tmp/idx")
      val vecs = graft.ops.Core.embeddings(spark, sfDir)
        .select($"vec_id", $"embedding")
        .as[(Long, Seq[Float])].collect()
      val probes = (0 until 8).flatMap(r =>
        vecs.map { case (id, v) => (id + (r + 1) * 1000000L, v) })
      val pMs = MemoryStream[(Long, Seq[Float])]
      val q4 = graft.ops.Similarity.streamingIvfProbe(spark,
        pMs.toDF().toDF("vec_id", "embedding"), s"$tmp/idx", s"$tmp/out", s"$tmp/ck")
      val secs = try {
        val t0 = System.nanoTime()
        probes.grouped(probes.size / 8).foreach { g =>
          pMs.addData(g); q4.processAllAvailable()
        }
        (System.nanoTime() - t0) / 1e9
      } finally q4.stop()
      (probes.size, secs)
    } catch {
      case t: Throwable =>
        System.err.println(s"[bench] WARNING: IVF probe stream failed: $t")
        (0, -1.0)
    }
    val probeEps = if (probeSecs > 0) probeN / probeSecs else -1.0

    val totalDagInput = nDeep + 4 * auxIdx.size
    val rocksEps = if (dagRocksSecs > 0) totalDagInput / dagRocksSecs else -1.0
    val tunedEps = if (dagTunedSecs > 0) totalDagInput / dagTunedSecs else -1.0
    val json =
      s"""{"bars_events":$nBars,"bars_sec":$barsSecs,"bars_events_per_sec":${nBars / barsSecs},""" +
        s""""indfull_events":$nInd,"indfull_sec":$indSecs,"indfull_events_per_sec":${nInd / indSecs},""" +
        s""""ivfprobe_vectors":$probeN,"ivfprobe_sec":$probeSecs,"ivfprobe_vectors_per_sec":$probeEps,""" +
        s""""dag_events":$totalDagInput,"dag_sec":$dagSecs,"dag_events_per_sec":${totalDagInput / dagSecs},""" +
        s""""dag_rocksdb_sec":$dagRocksSecs,"dag_rocksdb_events_per_sec":$rocksEps,""" +
        s""""dag_tuned_sec":$dagTunedSecs,"dag_tuned_events_per_sec":$tunedEps,""" +
        s""""fmby_events":$fmbyN,"fmby_sec":$fmbySecs,"fmby_events_per_sec":$fmbyEps,""" +
        s""""marker_mid_dag_sec":$midDagMarkerSec}"""
    // ivfprobe's throughput scales with SF_DIR corpus size (probe load
    // = 8x corpus, so at tiny SFs per-batch fixed cost dominates and
    // vectors/sec says nothing about box health) — exclude it from the
    // floor check unless the probe volume matches the sf0.1 regime the
    // floors were recorded at; the other metrics are MemoryStream-fed
    // at fixed volumes, SF-independent by construction
    val eps = Map(
      "bars" -> nBars / barsSecs, "indfull" -> nInd / indSecs,
      "dag" -> totalDagInput / dagSecs,
      "dag_rocksdb" -> rocksEps, "dag_tuned" -> tunedEps,
      "fmby" -> fmbyEps) ++
      (if (probeN >= 8000) Map("ivfprobe" -> probeEps) else Map.empty)
    (json, midDagMarkerSec, eps)
  }
}
