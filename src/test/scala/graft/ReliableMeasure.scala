package graft

/** One-off measurement runner for the reliable-checkpoint overhead
  * (r14, VERDICT r13 #4): `Test/runMain graft.ReliableMeasure [reps]`
  * times the connected-components loop over the sf0.1 hi-recall
  * cosine-LSH pair graph — the heaviest registered cluster family —
  * with the default localCheckpoint path and with `reliableDir` set,
  * ALTERNATING the two modes per rep inside one JVM so neither mode
  * systematically absorbs the JIT warmup (an untimed warm pass runs
  * first). The pair generator materializes once up front (its sidecar
  * is train-once); what's timed is the loop itself, which is what the
  * reliable mode changes. Both arms pass localEdgeGate = 0 so the
  * size gate cannot short-circuit the local arm onto the driver-side
  * union-find — the ratio compares the DISTRIBUTED loop's two
  * checkpoint routes, which is the decision the number informs.
  * Per-run /proc/stat steal deltas are printed alongside each timing
  * (r15, VERDICT r14 #7): the measured ratio carries its own
  * cleanliness evidence the way the streaming floors do. The ratio
  * goes into Components.clusterPairsCounted's scaladoc so "opt in
  * when the loop's runtime dwarfs a restart" carries a number. */
object ReliableMeasure {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.toolSession("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    // steal jiffies (field 8 of the aggregate cpu line) + host-visible
    // CPU count — the same accounting Bench's per-section verdict uses
    val ncpu = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val n = src.getLines().count(_.matches("cpu\\d+\\s.*"))
        if (n > 0) n else Runtime.getRuntime.availableProcessors()
      } finally src.close()
    }
    def steal(): Long = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        if (f.length > 7) f(7) else -1L
      } finally src.close()
    }
    // build the pair sidecar once; loop input is then a parquet read
    val pairs = ops.Similarity.cosineNearDupPairsHiRecall(spark, dir)
    println(s"[reliable] pair graph: ${pairs.count()} edges ($ncpu host cpus)")
    def run(reliable: Boolean): Double = {
      val opt =
        if (reliable)
          Some(java.nio.file.Files.createTempDirectory("graft_relmeas").toString)
        else None
      val s0 = steal()
      val t0 = System.nanoTime()
      val (out, rounds) =
        ops.Components.clusterPairsCounted(pairs, "vec_a", "vec_b", "vec_id", opt, 0L)
      val n = out.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val s1 = steal()
      // guard BOTH endpoints (r15 review, matching Bench.SectionCpu):
      // on a kernel whose cpu line lacks the steal field both
      // snapshots are the -1 sentinel, and (-1)-(-1)=0 would print
      // fabricated "0.000%" cleanliness evidence for an unmeasured run
      val sj = if (s0 >= 0 && s1 >= 0) s1 - s0 else -1L
      val stealPct = if (sj >= 0 && sec > 0) 100.0 * sj / (sec * 100.0 * ncpu) else -1.0
      println(f"[reliable] mode=${if (reliable) "reliable" else "local"}%s " +
        f"rows=$n rounds=$rounds sec=$sec%.3f steal=$sj jiffies ($stealPct%.3f%%)")
      sec
    }
    run(reliable = false); run(reliable = true) // untimed JIT warm, both paths
    val (loc, rel) = (Array.newBuilder[Double], Array.newBuilder[Double])
    (1 to reps).foreach { _ => loc += run(reliable = false); rel += run(reliable = true) }
    val (lMin, rMin) = (loc.result().min, rel.result().min)
    println(f"[reliable] min local=$lMin%.3f s reliable=$rMin%.3f s ratio=${rMin / lMin}%.2f")
    spark.stop()
  }
}
