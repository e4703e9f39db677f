package graft

import java.nio.file.{Files, Paths}

/** Plan-inspection tool: dumps explain("formatted") for every query so
  * pushdown / broadcast / codegen can be audited per round (builder
  * brief: iterate until it's the plan you'd want, not the first one
  * that passed).
  *
  * Usage:
  *   runMain graft.Explain [sfDir] [outFile]          — static plans, all queries
  *   runMain graft.Explain [sfDir] [outFile] <query>  — RUN one query, dump the
  *     final adaptive plan with per-operator metrics (rows, agg/pipeline
  *     times, spills) — how the cache/exchange-reuse findings were made.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/tmp/plans.txt")
    val spark = SparkEntry.toolSession("ERROR")
    val sb = new StringBuilder
    args.lift(2) match {
      case Some(name) =>
        val fn = SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
        val df = fn(spark, sfDir)
        val t0 = System.nanoTime()
        df.collect() // collect (not count) so metrics land on THIS plan
        sb.append(s"== $name executed in ${(System.nanoTime() - t0) / 1e9}s ==\n")
        walk(df.queryExecution.executedPlan, 0, sb)
      case None =>
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          sb.append(s"\n========== $name ==========\n")
          try {
            val df = fn(spark, sfDir)
            sb.append(df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
        }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"plans -> $out")
    spark.stop()
  }

  private def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int,
      sb: StringBuilder): Unit = {
    val m = p.metrics.map { case (k, v) => s"$k=${v.value}" }
      .filter(s => s.contains("numOutputRows") || s.toLowerCase.contains("time") ||
        s.contains("spill"))
      .take(6).mkString(" ")
    sb.append("  " * depth + p.nodeName + "  " + m + "\n")
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan, depth + 1, sb)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan, depth + 1, sb)
      case other => other.children.foreach(walk(_, depth + 1, sb))
    }
  }
}
