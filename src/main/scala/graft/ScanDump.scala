package graft

import org.apache.spark.sql.execution.FileSourceScanExec

/** Diagnostic: one line per parquet scan of every registered query —
  * table, required/total column counts, the pruned column list, and
  * whether any data filter reached the scan. The raw feed behind
  * ScanAuditSpec's column-pruning gate; run it when the gate fails to
  * see every scan at once (`runMain graft.ScanDump [sfDir]`). */
object ScanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.toolSession("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val scans = fn(spark, dir).queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f }
      scans.foreach { f =>
        val table = f.relation.location.rootPaths.head.getName.stripSuffix(".parquet")
        val total = f.relation.dataSchema.fieldNames.length
        val req = f.requiredSchema.fieldNames.toSeq
        println(s"SCAN|$name|$table|${req.size}/$total|${req.mkString(",")}|" +
          s"pushed=${f.dataFilters.nonEmpty}")
      }
    }
    spark.stop()
  }
}
