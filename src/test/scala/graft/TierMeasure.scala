package graft

/** One-off cold-JVM measurement runner for the hi-recall banding
  * tiers (r7 verdict #6): `Test/runMain graft.TierMeasure <rows>`
  * times the forced (16, rows) point at sf0.1 twice in a fresh JVM
  * and reports the verified pair count; `<rows> = exact` times the
  * all-pairs baseline. One invocation per point keeps the reps
  * genuinely cold (no shared-JVM ordering bias — the QBench rule). */
object TierMeasure {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.toolSession("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    args(0) match {
      case "exact" =>
        val (n, t) = time(ops.Similarity.cosineNearDupPairsExact(spark, dir).count())
        println(f"[tier] EXACT pairs=$n t=$t%.2f s")
      // strict-threshold (0.9) points over the augmented twin corpus
      // (r10 verdict #3): `strict_exact` is the recall denominator,
      // `strict <rows>` a forced tier of the registered
      // embed_near_dup_strict machinery
      case "strict_exact" =>
        val aug = ops.Similarity.augmentedEmbeddings(spark, dir)
        val (n, t) = time(ops.Similarity.cosineNearDupPairsExactOver(aug, 0.9).count())
        println(f"[tier] STRICT-EXACT pairs=$n t=$t%.2f s")
      case "strict" =>
        val rows = args(1).toInt
        val q = ops.Similarity.cosineNearDupPairsStrictAt(spark, dir, 16, rows)
        val (n1, t1) = time(q.count())
        val (_, t2) = time(q.count())
        println(f"[tier] STRICT 16x$rows%d pairs=$n1 rep1=$t1%.2f s rep2=$t2%.2f s")
      case rows =>
        val q = ops.Similarity.cosineNearDupPairsAt(spark, dir, 16, rows.toInt)
        val (n1, t1) = time(q.count())
        val (_, t2) = time(q.count())
        println(f"[tier] 16x$rows%s pairs=$n1 rep1=$t1%.2f s rep2=$t2%.2f s")
    }
    spark.stop()
  }
}
