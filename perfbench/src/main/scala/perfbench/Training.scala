package perfbench

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.TrendPipeline
import graft.ops.{Book, Indicators, Joins, Normalize}

/** The warehouse half of the reference (create_database.py views, the
  * dataloader and training), closed loop: materialise every feature
  * table, fit the trend model on the time split's head, then score the
  * newest bars repeatedly (the predict.py path). */
object Training {
  /** (span name, registered query whose oracle checks it, function) */
  val outputs: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("Indicators.featureMatrix", "feature_matrix", Indicators.featureMatrix _),
    ("Indicators.featureMatrixBy", "feature_matrix_by_type", Indicators.featureMatrixBy _),
    ("Book.bookFeatures", "book_features", Book.bookFeatures _),
    ("Joins.intervalJoin", "interval_join", Joins.intervalJoin _),
    ("Normalize.chunkMinmax", "chunk_minmax", Normalize.chunkMinmax _),
    ("Normalize.windowSlices", "window_slices", Normalize.windowSlices _))

  val ScoreN = 5
  /** Scoring calls per run at least: enough for a tail reading. */
  val MinScores = 11
  /** Untimed scoring calls after the build: the JIT warms the scoring
    * path over the first calls, and predict.py is a long-running
    * process that has made them before the calls users wait on. */
  val WarmScores = 8

  /** Raw tables -> every output written under `outRoot` -> model fitted. */
  def build(spark: SparkSession, dataDir: String, outRoot: String, trace: Trace): PipelineModel = {
    outputs.foreach { case (span, q, f) =>
      trace.span(span, spark) {
        f(spark, dataDir).write.mode("overwrite").parquet(s"$outRoot/$q")
      }
    }
    val fm = spark.read.parquet(s"$outRoot/feature_matrix")
    trace.span("TrendPipeline.fit", spark) {
      TrendPipeline.fit(TrendPipeline.timeSplit(fm)._1)
    }
  }

  def score(spark: SparkSession, dataDir: String, model: PipelineModel, trace: Trace): Seq[java.sql.Timestamp] =
    trace.span("TrendPipeline.scoreLatest", spark) {
      TrendPipeline.scoreLatest(spark, dataDir, model, ScoreN).collect().map(_.getTimestamp(0)).toSeq
    }

  /** One build, then `WarmScores` untimed scoring calls and timed ones
    * for `seconds` (at least `minScores`). */
  def run(spark: SparkSession, dataDir: String, work: String, seconds: Double,
      minScores: Int, trace: Trace): PhaseResult = {
    val outRoot = s"$work/training"
    val b0 = System.nanoTime()
    val model = build(spark, dataDir, outRoot, trace)
    val buildS = (System.nanoTime() - b0) / 1e9
    (0 until WarmScores).foreach(_ => score(spark, dataDir, model, Trace.disabled))
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val scoreMs = scala.collection.mutable.ArrayBuffer[Double]()
    val scored = scala.collection.mutable.ArrayBuffer[Seq[java.sql.Timestamp]]()
    while (scoreMs.size < minScores || elapsed < seconds) {
      val s0 = System.nanoTime()
      scored += score(spark, dataDir, model, trace)
      scoreMs += (System.nanoTime() - s0) / 1e6
    }
    // correctness (after timing): each call returned the newest buckets
    val newest = spark.read.parquet(s"$outRoot/feature_matrix")
      .orderBy(col("bucket").desc).limit(ScoreN).collect().map(_.getTimestamp(0)).toSet
    val badScores = scored.count(_.toSet != newest)
    val tail = Stats.tail(scoreMs.toSeq)
    PhaseResult(
      Map("train_build_s" -> buildS,
        "score_p50_ms" -> Stats.median(scoreMs.toSeq)) ++
        tail.map(t => "score_tail_ms" -> t._1),
      Map("score_calls" -> scoreMs.size, "score_ms" -> scoreMs.toSeq,
        "score_tail_percentile" -> tail.map(_._2), "score_mismatches" -> badScores),
      // the score calls, and the outputs run.py checks against their oracles
      attempted = scored.size.toLong + outputs.size, failed = badScores.toLong,
      outputs = outputs.map { case (_, q, _) => q -> s"$outRoot/$q" }.toMap)
  }
}
