package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off job-level profile of the embed cumulative append probe:
  * runs the standing build + two sub-batches at sf0.1 with a listener
  * that prints every Spark job's wall time and call site, so the
  * per-batch cost decomposes into generator / loop / state-write
  * terms instead of guesses. Test-only tool, not registered. */
object CumulMeasure {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (js.time, js.properties.getProperty("callSite.short", "?")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, site) =>
          jobs.synchronized { jobs += ((je.jobId, (je.time - t0) / 1e3, site)) }
        }
    })
    def phase[T](name: String)(f: => T): T = {
      val before = jobs.synchronized(jobs.size)
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      val mine = jobs.synchronized(jobs.drop(before).toVector)
      println(f"[cumul] PHASE $name: $sec%.3f s, ${mine.size} jobs")
      mine.sortBy(-_._2).take(12).foreach { case (id, s, site) =>
        println(f"[cumul]   job $id%4d $s%7.3f s  $site")
      }
      r
    }
    // warm at sf0.001 like QBench
    val warm = new java.io.File(new java.io.File(dir).getParentFile, "sf0.001")
    if (warm.isDirectory) ops.Similarity.queries.toMap
      .apply("embed_dedup_clusters_cumulative_probe")(spark, warm.getPath).count()
    val root = java.nio.file.Files.createTempDirectory("cm_root").toString
    phase("standing_build") {
      ops.Similarity.writeEmbedClusterAppendArtifacts(spark,
        ops.Core.embeddings(spark, dir).filter(col("vec_id") % 2 === 0), root)
    }
    val odd = ops.Core.embeddings(spark, dir).filter(col("vec_id") % 2 === 1)
    (1 to 2).foreach { rep =>
      val stateDir = java.nio.file.Files.createTempDirectory(s"cm_state$rep").toString
      phase(s"rep${rep}_batch1") {
        ops.Components.appendClusters(spark, ops.Similarity.clusterTerms,
          odd.filter(col("vec_id") % 4 === 1), root, Some(0L -> stateDir)).count()
      }
      phase(s"rep${rep}_batch2") {
        ops.Components.appendClusters(spark, ops.Similarity.clusterTerms,
          odd.filter(col("vec_id") % 4 === 3), root, Some(1L -> stateDir)).count()
      }
    }
    spark.stop()
  }
}
