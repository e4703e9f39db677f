package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.StreamingPipeline

/** The reference consumer on this engine: five MemoryStream feeds into
  * `StreamingPipeline.referenceDag`, and a foreachBatch sink writing
  * `signalProjection` of each batch through `writeBatchIdempotent`.
  *
  * The feeds follow the reference producer: every source is polled
  * once per 5-min bucket, so a bucket carries one DEEP book message and
  * one message of each aux feed. Messages have the reference's widths
  * (see [[Deep]] and [[AuxFeeds]]) and are flattened after decode, as
  * the reference consumer does. The poll stamps the book first, at a
  * seeded offset in [0 s, 60 s), and each aux message 1-170 s later,
  * inside the 3-min join tolerance, so every bucket's book row joins all
  * four aux values and yields one signal.
  *
  * Event time is compressed: one bucket passes in `bucketWallMs` of
  * wall time. Creation stamps (due times) stay on the benchmark side. */
object Realtime {
  /** The DEEP book message (7 bid + 7 ask levels, price and size). */
  final case class Deep(ts: Timestamp, bids: Seq[Double], bid_sizes: Seq[Long],
      asks: Seq[Double], ask_sizes: Seq[Long])
  /** One aux message: its stamp and its payload values. */
  final case class Aux(ts: Timestamp, v: Seq[Double])

  val Levels = 7
  /** The aux feeds and their payload widths: VIX 1, the OHLCV bar 5,
    * COT 12 (two groups of 6) and economic indicators 13 x 3. */
  val AuxFeeds: Seq[(String, Int)] = Seq("vix" -> 1, "volume" -> 5, "cot" -> 12, "ind" -> 39)
  val EventsPerBucket: Int = 1 + AuxFeeds.size
  private val BucketMs = 300000L
  private val Base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** One bucket of feed: the book message and the four aux messages. */
  final case class Bucket(b: Int, deep: Deep, aux: Seq[Aux]) {
    def offsetMs(ts: Timestamp): Long = ts.getTime - Base - b * BucketMs
    /** Offset of the last event contributing to the bucket's signal. */
    def lastMs: Long = aux.map(a => offsetMs(a.ts)).max
  }

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  def bucket(seed: Long, b: Int): Bucket = {
    val rng = new scala.util.Random(seed * 1000003L + b)
    val deepTs = Base + b * BucketMs + rng.nextInt(60) * 1000L
    val mid = 100 + rng.nextInt(400) + rng.nextDouble()
    def side(sign: Int) = (0 until Levels).map(i => cents(mid + sign * (0.01 + i * 0.03 + rng.nextDouble() * 0.02)))
    def sizes = (0 until Levels).map(_ => 100L * (1 + rng.nextInt(20)))
    val deep = Deep(new Timestamp(deepTs), side(-1), sizes, side(1), sizes)
    val aux = AuxFeeds.map { case (_, width) =>
      Aux(new Timestamp(deepTs + (1 + rng.nextInt(170)) * 1000L),
        (0 until width).map(_ => cents(rng.nextDouble() * 1000)))
    }
    Bucket(b, deep, aux)
  }

  private def signalKey(ts: Timestamp): String = {
    val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f.format(ts)
  }

  /** Buckets in one catch-up drain, and drains at full size. */
  val DrainBuckets = 200
  val Drains = 2
  /** Buckets pushed before timing starts: one cold micro-batch. */
  val WarmBuckets = 1

  /** A started pipeline: the feeds, the query and the sink's log. */
  final class Pipeline(spark: SparkSession, work: String, trace: Trace, name: String) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val deepMs = MemoryStream[Deep]
    val auxMs = AuxFeeds.map(_ => MemoryStream[Aux])
    val outDir = s"$work/$name/signals"
    /** batch id -> System.nanoTime() when the sink's write returned */
    val sinkReturn = new ConcurrentHashMap[Long, Long]()
    /** Runs on the stream thread after each batch that wrote signals. */
    @volatile private var onWritten: () => Unit = () => ()

    val query: StreamingQuery = {
      // flatten the decoded messages into the reference's columns
      val book = deepMs.toDF().select(col("ts") +: (0 until Levels).flatMap { i =>
        Seq(col("bids")(i).as(s"bid_$i"), col("bid_sizes")(i).as(s"bid_${i}_size"),
          col("asks")(i).as(s"ask_$i"), col("ask_sizes")(i).as(s"ask_${i}_size"))
      }: _*)
      val auxes = AuxFeeds.zip(auxMs).map { case ((feed, width), m) =>
        feed -> m.toDF().select(col("ts") +: (0 until width).map(k => col("v")(k).as(s"${feed}_$k")): _*)
      }
      StreamingPipeline.referenceDag(book, auxes)
        .writeStream.queryName(name)
        .option("checkpointLocation", s"$work/$name/checkpoint")
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val wrote = trace.span("StreamingPipeline.writeBatchIdempotent", spark, caller = false) {
            StreamingPipeline.writeBatchIdempotent(
              StreamingPipeline.signalProjection(batch, "ts"), batchId, outDir)
          }
          sinkReturn.put(batchId, System.nanoTime())
          if (wrote) onWritten()
        }
        .start()
    }

    def push(bk: Bucket): Unit = {
      bk.aux.zip(auxMs).foreach { case (a, m) => m.addData(a) }
      deepMs.addData(bk.deep)
    }

    /** The aux messages of a backlog. They land with the warm batch,
      * before its book messages, so that the timed drain is one
      * micro-batch whatever the trigger timing. */
    def landAux(backlog: Seq[Bucket]): Unit =
      auxMs.zipWithIndex.foreach { case (m, i) => m.addData(backlog.map(_.aux(i))) }

    /** Drain backlogs back to back. The first backlog's book messages
      * go in on an idle query, each next one from the sink as soon as
      * the batch holding the previous one has written its signals, so
      * every drain is one micro-batch and no no-data batch runs between
      * them. Returns, per backlog, (book messages, seconds from their
      * add until their signals are written). */
    def drain(backlogs: Seq[Seq[Bucket]]): Seq[(Int, Double)] = {
      val added = new Array[Long](backlogs.size)
      val written = new Array[Long](backlogs.size)
      val done = new java.util.concurrent.CountDownLatch(1)
      var k = 0
      def add(): Unit = { added(k) = System.nanoTime(); deepMs.addData(backlogs(k).map(_.deep)) }
      onWritten = () => {
        written(k) = System.nanoTime()
        k += 1
        if (k < backlogs.size) add() else done.countDown()
      }
      add()
      while (!done.await(1, java.util.concurrent.TimeUnit.SECONDS))
        require(query.isActive, s"query stopped during the catch-up: ${query.exception}")
      onWritten = () => ()
      backlogs.indices.map(i => (backlogs(i).size, (written(i) - added(i)) / 1e9))
    }

    /** One message at a time, in event-time order across the five feeds:
      * (offset into the bucket in ms, the add). */
    def events(bk: Bucket): Seq[(Long, () => Unit)] = (
      (bk.offsetMs(bk.deep.ts), () => { deepMs.addData(bk.deep); () }) +:
        bk.aux.zip(auxMs).map { case (a, m) => (bk.offsetMs(a.ts), () => { m.addData(a); () }) }
    ).sortBy(_._1)

    /** Drain the feeds, then wait out the no-data batch that follows a
      * data batch when the watermark moved, so the next phase starts on
      * an idle query. */
    def settle(): Unit = {
      query.processAllAvailable()
      var idle = 0
      val until = System.nanoTime() + 10000000000L
      while (idle < 3 && System.nanoTime() < until) {
        Thread.sleep(50)
        idle = if (query.status.isTriggerActive) 0 else idle + 1
      }
    }

    /** Sink rows: signal timestamp string -> batch ids that emitted it. */
    def signals(): Map[String, Seq[Long]] =
      if (!graft.ops.Core.tableExists(spark, outDir)) Map.empty
      else spark.read.parquet(outDir)
        .select(get_json_object(col("value"), "$.Timestamp").as("t"), col("batch_id"))
        .collect().toSeq.groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getAs[Number](1).longValue) }
  }

  /** Warm batch, `drains` catch-up drains of `DrainBuckets` buckets
    * each, then the open loop for `seconds` at one bucket per
    * `bucketWallMs`. The drains run first so that the open loop, whose
    * few micro-batches set the latency, runs on a query whose code
    * paths several batches have already warmed. */
  def run(spark: SparkSession, work: String, seed: Long, seconds: Double, drains: Int,
      bucketWallMs: Long, trace: Trace, setupDone: () => Unit): PhaseResult = {
    val p = new Pipeline(spark, work, trace, "realtime")
    val pushed = scala.collection.mutable.ArrayBuffer[Bucket]()
    try {
      var b = 0
      def next(): Bucket = { val bk = bucket(seed, b); b += 1; pushed += bk; bk }
      (0 until WarmBuckets).foreach(_ => p.push(next()))
      // the backlogs' aux messages land with the warm batch
      val drainSets = (0 until drains).map(_ => (0 until DrainBuckets).map(_ => next()))
      p.landAux(drainSets.flatten)
      p.settle()
      setupDone()

      // catch-up: each backlog's book messages, drained as fast as they go
      val firstDrainBatch = p.query.lastProgress.batchId + 1
      val drained = p.drain(drainSets)
      p.settle()
      val drainProgress = p.query.recentProgress.toSeq
        .filter(pr => pr.batchId >= firstDrainBatch && pr.numInputRows > 0)

      // open loop: one generator thread adds each message at its due time
      val nOpen = math.max(1, (seconds * 1000 / bucketWallMs).toInt)
      val openBuckets = (0 until nOpen).map(_ => next())
      val t0 = System.nanoTime() + 50000000L
      // due time (nanoTime) of the message `offMs` into the i-th open-loop bucket
      def due(i: Int, offMs: Long): Long = t0 + ((i * BucketMs + offMs) * bucketWallMs * 1000000L) / BucketMs
      val sched = openBuckets.zipWithIndex.flatMap { case (bk, i) =>
        p.events(bk).map { case (offMs, add) => (due(i, offMs), add) }
      }
      val lateness = new Array[Long](sched.size)
      val addedAt = new Array[Long](sched.size)
      val gen = new Thread(() => {
        sched.zipWithIndex.foreach { case ((due, add), i) =>
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          add()
          addedAt(i) = System.nanoTime()
          lateness(i) = addedAt(i) - due
        }
      }, "perfbench-generator")
      val firstOpenBatch = p.query.lastProgress.batchId + 1
      gen.start()
      gen.join()
      val genEnd = System.nanoTime()
      p.query.processAllAvailable()

      // latency: due time of the last contributing message -> sink return
      val sig = p.signals()
      val lat = openBuckets.zipWithIndex.flatMap { case (bk, i) =>
        sig.get(signalKey(bk.deep.ts)).flatMap(_.headOption).map { bid =>
          (p.sinkReturn.get(bid) - due(i, bk.lastMs)) / 1e6
        }
      }

      // backlog at the start of each batch that began while the
      // generator ran: messages added minus processed
      val addTimes = addedAt.sorted
      val (wall0, nano0) = (System.currentTimeMillis(), System.nanoTime())
      def startNs(pr: StreamingQueryProgress) =
        nano0 + (java.time.Instant.parse(pr.timestamp).toEpochMilli - wall0) * 1000000L
      val openProgress = p.query.recentProgress.toSeq
        .filter(pr => pr.batchId >= firstOpenBatch && startNs(pr) < genEnd)
      var processed = 0L
      val backlogs = openProgress.map { pr =>
        val addedBy = java.util.Arrays.binarySearch(addTimes, startNs(pr)) match {
          case i if i >= 0 => i + 1
          case i => -i - 1
        }
        val bl = addedBy - processed
        processed += pr.numInputRows
        bl.toDouble
      }

      // correctness: every bucket's book message signalled exactly once
      val expected = pushed.map(bk => signalKey(bk.deep.ts)).toSet
      val dupes = sig.values.map(ids => ids.size - 1).sum
      val missing = expected.count(k => !sig.contains(k))
      val extra = sig.keySet.count(k => !expected.contains(k))
      val tail = Stats.tail(lat)
      val readings = Map(
        "signal_latency_p50_ms" -> Stats.median(lat),
        "catchup_events_per_s" -> Stats.median(drained.map { case (n, secs) => n / secs }),
        "gen.lag_ms_max" -> lateness.max / 1e6,
        "gen.backlog_events_max" -> (if (backlogs.isEmpty) 0.0 else backlogs.max)) ++
        tail.map(t => "signal_latency_tail_ms" -> t._1)
      val stamp = Map[String, Any](
        "signal_latency_tail_percentile" -> tail.map(_._2),
        "signal_latency_samples" -> lat.size,
        "open_loop_buckets" -> nOpen,
        "bucket_events" -> EventsPerBucket,
        "open_loop_events_per_s" -> EventsPerBucket * 1000.0 / bucketWallMs,
        "open_loop_batches" -> openProgress.size,
        "open_loop_backlogs" -> backlogs,
        "open_loop_trigger_ms" -> openProgress.map(_.durationMs.get("triggerExecution")),
        "catchup_s" -> drained.map(_._2),
        "catchup_batches" -> drainProgress.map(pr => Map("rows" -> pr.numInputRows,
          "trigger_ms" -> pr.durationMs.get("triggerExecution"))),
        "catchup_events" -> drained.map(_._1).sum,
        "signals_expected" -> expected.size,
        "signals_missing" -> missing, "signals_extra" -> extra, "signals_duplicated" -> dupes)
      PhaseResult(readings, stamp,
        attempted = expected.size.toLong, failed = (missing + extra + dupes).toLong)
    } finally p.query.stop()
  }

  /** The catch-up phase alone on a `local[1]` session: the
    * single-threaded baseline of the same job. */
  def catchupBaseline(spark: SparkSession, work: String, seed: Long): Double = {
    val p = new Pipeline(spark, work, Trace.disabled, "realtime_local1")
    try {
      var b = 0
      def next(): Bucket = { val bk = bucket(seed, b); b += 1; bk }
      (0 until WarmBuckets).foreach(_ => p.push(next()))
      val backlog = (0 until DrainBuckets).map(_ => next())
      p.landAux(backlog)
      p.settle()
      val Seq((n, secs)) = p.drain(Seq(backlog))
      n / secs
    } finally p.query.stop()
  }

  /** `StreamingPipeline.referenceDag` measures from the query's progress. */
  def streamingMeasures(trace: Trace, name: String): Map[String, Double] = {
    val ps = trace.progress.asScala.filter(_._1 == name).map(_._2).toVector
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val last = ps.last
    val pre = "StreamingPipeline.referenceDag."
    Map(
      "batches" -> ps.size.toDouble,
      "nodata_batches" -> ps.count(_.numInputRows == 0).toDouble,
      "trigger_ms_p50" -> Stats.median(dur("triggerExecution")),
      "plan_ms_p50" -> Stats.median(dur("queryPlanning")),
      "walcommit_ms_p50" -> Stats.median(dur("walCommit")),
      "state_rows" -> last.stateOperators.map(_.numRowsTotal).sum.toDouble,
      "state_mem_bytes" -> last.stateOperators.map(_.memoryUsedBytes).sum.toDouble,
      "state_commit_ms_p50" -> Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "late_rows" -> ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble
    ).map { case (k, v) => (pre + k) -> v }
  }
}
