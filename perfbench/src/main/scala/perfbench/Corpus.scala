package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.{Core, Similarity, TextDedup}

/** The persisted cluster and IVF index lifecycle: standing artifacts
  * over the even ids, the registered probes' takedown slice
  * (id % 10 = 4) as tombstones, the odd ids as seeded increments
  * through the cumulative streaming appends and the IVF append (with a
  * probe after each), then IVF compaction. Every cycle builds into a
  * fresh root, so no in-JVM memo carries over between cycles. */
object Corpus {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Seq[Float], label: Int)

  /** writeIvfIndex draws its codebook from ids below this; the standing
    * IVF index keeps them, and they are never tombstoned, because
    * compactIvfIndex refuses to forget a codebook seed. */
  val Cells = 16

  /** The IVF standing corpus: even ids plus the codebook seeds, as an
    * input table directory of its own (writeIvfIndex reads a table dir). */
  def ivfStandingDir(spark: SparkSession, dataDir: String, work: String): String = {
    val d = s"$work/ivf_standing"
    Core.embeddings(spark, dataDir)
      .filter(col("vec_id") % 2 === 0 || col("vec_id") < Cells)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  /** Ids below this make the warm corpus: enough for every code path,
    * small enough to keep the warm cycle short. */
  val WarmIds = 120

  /** The documents and embeddings with ids below `n`, as an input table
    * directory of their own. */
  def subsetDir(spark: SparkSession, dataDir: String, work: String, n: Int): String = {
    val d = s"$work/corpus_subset"
    Core.documents(spark, dataDir).filter(col("doc_id") < n)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    Core.embeddings(spark, dataDir).filter(col("vec_id") < n)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  /** The odd ids split into `n` increments by a seeded shuffle. */
  def increments(ids: Seq[Long], n: Int, seed: Long): Seq[Set[Long]] = {
    val shuffled = new scala.util.Random(seed).shuffle(ids.sorted)
    (0 until n).map(k => shuffled.zipWithIndex.filter(_._2 % n == k).map(_._1).toSet)
  }

  final case class Cycle(maintenanceS: Double, textMs: Seq[Double], embedMs: Seq[Double],
      ivfAppendMs: Seq[Double], ivfProbeMs: Seq[Double], textOut: String, embedOut: String,
      ivfMismatch: Long)

  def cycle(spark: SparkSession, dataDir: String, ivfDir: String, root: String,
      nIncrements: Int, seed: Long, trace: Trace): Cycle = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Core.documents(spark, dataDir)
    val vecs = Core.embeddings(spark, dataDir)
    def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    def ms(body: => Unit): Double = timed(body) * 1000
    val (text, embed, ivf) = (s"$root/text", s"$root/embed", s"$root/ivf")

    var maintenance = timed {
      trace.span("TextDedup.writeClusterAppendArtifacts", spark) {
        TextDedup.writeClusterAppendArtifacts(spark, docs.filter(col("doc_id") % 2 === 0), text)
      }
      trace.span("Similarity.writeEmbedClusterAppendArtifacts", spark) {
        Similarity.writeEmbedClusterAppendArtifacts(spark, vecs.filter(col("vec_id") % 2 === 0), embed)
      }
      trace.span("Similarity.writeIvfIndex", spark) {
        Similarity.writeIvfIndex(spark, ivfDir, ivf)
      }
      trace.span("TextDedup.writeClusterTombstones", spark) {
        TextDedup.writeClusterTombstones(spark,
          docs.filter(col("doc_id") % 10 === 4).select("doc_id"), text)
      }
      trace.span("Similarity.writeEmbedClusterTombstones", spark) {
        Similarity.writeEmbedClusterTombstones(spark,
          vecs.filter(col("vec_id") % 10 === 4).select("vec_id"), embed)
      }
      trace.span("Similarity.writeIvfTombstones", spark) {
        Similarity.writeIvfTombstones(spark,
          vecs.filter(col("vec_id") % 10 === 4 && col("vec_id") >= Cells).select("vec_id"), ivf)
      }
    }

    val oddDocs = docs.filter(col("doc_id") % 2 === 1).as[Doc].collect().toSeq
    val oddVecs = vecs.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"), col("label")).as[Vec].collect().toSeq
    val incs = increments((oddDocs.map(_.doc_id) ++ oddVecs.map(_.vec_id)).distinct, nIncrements, seed)
    val docMs = MemoryStream[Doc]
    val vecMs = MemoryStream[Vec]
    val textQ = TextDedup.streamingClusterAppendCumulative(spark, docMs.toDF(), text,
      s"$root/text_state", s"$root/text_out", s"$root/text_ck")
    val embedQ = Similarity.streamingEmbedClusterAppendCumulative(spark, vecMs.toDF(), embed,
      s"$root/embed_state", s"$root/embed_out", s"$root/embed_ck")
    val (textMs, embedMs, appendMs, probeMs) = (Seq.newBuilder[Double], Seq.newBuilder[Double],
      Seq.newBuilder[Double], Seq.newBuilder[Double])
    var lastProbe: Set[Row] = Set.empty
    try {
      incs.foreach { ids =>
        textMs += ms(trace.span("TextDedup.streamingClusterAppendCumulative", spark) {
          docMs.addData(oddDocs.filter(d => ids(d.doc_id))); textQ.processAllAvailable()
        })
        val batch = oddVecs.filter(v => ids(v.vec_id))
        embedMs += ms(trace.span("Similarity.streamingEmbedClusterAppendCumulative", spark) {
          vecMs.addData(batch); embedQ.processAllAvailable()
        })
        val ivfBatch = batch.filter(_.vec_id >= Cells).map(v => (v.vec_id, v.embedding)).toDF("vec_id", "embedding")
        appendMs += ms(trace.span("Similarity.appendToIvfIndex", spark) {
          Similarity.appendToIvfIndex(spark, ivfBatch, ivf)
        })
        probeMs += ms(trace.span("Similarity.probeIvfIndex", spark) {
          lastProbe = Similarity.probeIvfIndex(spark, ivf).collect().toSet
        })
      }
    } finally { textQ.stop(); embedQ.stop() }

    maintenance += timed {
      trace.span("Similarity.compactIvfIndex", spark) {
        Similarity.compactIvfIndex(spark, ivf, s"$root/ivf_compact")
      }
    }
    // correctness (after timing): the compacted index answers like the
    // tombstone-filtered one
    val compacted = Similarity.probeIvfIndex(spark, s"$root/ivf_compact").collect().toSet
    val ivfMismatch = (compacted.diff(lastProbe).size + lastProbe.diff(compacted).size).toLong
    Cycle(maintenance, textMs.result(), embedMs.result(), appendMs.result(), probeMs.result(),
      latestPartition(spark, s"$root/text_out"), latestPartition(spark, s"$root/embed_out"),
      ivfMismatch)
  }

  /** The newest batch_id partition: the current cluster assignment.
    * Empty ("") when no batch wrote a cluster: the sink skips empty
    * batches, so a corpus without near-duplicates leaves no partition. */
  def latestPartition(spark: SparkSession, out: String): String = {
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = if (!fs.exists(p)) Array.empty[Long]
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id=").toLong)
    if (ids.isEmpty) "" else s"$out/batch_id=${ids.max}"
  }

  /** Cycles until the window has passed (at least one). */
  def run(spark: SparkSession, dataDir: String, work: String, seconds: Double,
      nIncrements: Int, seed: Long, trace: Trace): PhaseResult = {
    val ivfDir = ivfStandingDir(spark, dataDir, work)
    val t0 = System.nanoTime()
    val cycles = scala.collection.mutable.ArrayBuffer[Cycle]()
    while (cycles.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      cycles += cycle(spark, dataDir, ivfDir, s"$work/corpus/cycle${cycles.size}",
        nIncrements, seed + cycles.size, trace)
    val last = cycles.last
    PhaseResult(
      Map("maintenance_s" -> Stats.median(cycles.map(_.maintenanceS).toSeq),
        "text_append_p50_ms" -> Stats.median(cycles.flatMap(_.textMs).toSeq),
        "embed_append_p50_ms" -> Stats.median(cycles.flatMap(_.embedMs).toSeq),
        "ivf_append_p50_ms" -> Stats.median(cycles.flatMap(_.ivfAppendMs).toSeq),
        "ivf_probe_p50_ms" -> Stats.median(cycles.flatMap(_.ivfProbeMs).toSeq),
        // one increment visible in all three indexes: both cumulative
        // appends, the IVF append and the probe that reads it back
        "increment_p50_ms" -> Stats.median(cycles.flatMap(c => c.textMs.indices.map(i =>
          c.textMs(i) + c.embedMs(i) + c.ivfAppendMs(i) + c.ivfProbeMs(i))).toSeq)),
      Map("cycles" -> cycles.size, "increments_per_cycle" -> nIncrements,
        "ivf_compaction_mismatches" -> cycles.map(_.ivfMismatch).sum),
      // per cycle: the IVF compaction check, and the last cycle's two
      // cumulative tables checked against their oracles by run.py
      attempted = cycles.size.toLong + 2, failed = cycles.count(_.ivfMismatch > 0).toLong,
      outputs = Map(
        "dedup_clusters_cumulative_tombstone_probe" -> last.textOut,
        "embed_dedup_clusters_cumulative_tombstone_probe" -> last.embedOut))
  }
}
