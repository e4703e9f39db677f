package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries/oracles are contributed by the operator modules under
  * graft.ops; names are unique across modules (asserted). */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    Indicators,
    Relational,
    Book,
    Joins,
    Normalize,
    TextDedup,
    TrainingData,
    Mixture,
    Similarity,
    Multimodal,
    ScaleOps)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full reference pipeline — 5-min bars -> indicator layer. */
  def entry(spark: SparkSession): DataFrame =
    Indicators.indicators(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = modules.flatMap(_.queries)
    require(all.map(_._1).distinct.size == all.size, "duplicate query names")
    all.toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = {
    val all = modules.flatMap(_.oracle).toMap
    val unknown = all.keySet -- queries.keySet
    require(unknown.isEmpty, s"oracle for unknown queries: $unknown")
    all
  }

  /** The one session every tool main (Bench, QBench, Verify, Explain,
    * ScanDump and the test-side runners) runs on: `local[n]` with n
    * shuffle partitions, n from SPARK_GRAFT_CPUS (default 4), UTC, AQE
    * on, no UI, `file:` bound to [[LocalFs]]. */
  private[graft] def toolSession(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(LocalFs.sessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
