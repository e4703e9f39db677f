package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingPipeline

case class Ev(event_id: Long, ts: Timestamp, event_type: String, value: Double)

/** Streaming semantics (SURVEY §2.9) driven through MemoryStream:
  * interval-join tolerance, chained stateful aggregation (the Spark-4
  * unlock), watermark-bounded dedup, foreachBatch sink shape.
  * Watermark-gated emissions need a second micro-batch, so tests add a
  * far-future event and processAllAvailable() twice. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("streaming interval join honors the [ts, ts+3min] tolerance") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Timestamp)]
    val right = MemoryStream[(Long, Timestamp)]
    val joined = StreamingPipeline.intervalJoin(
      left.toDF().toDF("l_id", "ts"),
      right.toDF().toDF("r_id", "ts"))
      .select("l_id", "r_id")
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      left.addData((1L, t("2024-01-01 10:00:30")))
      left.addData((2L, t("2024-01-01 10:06:00")))
      right.addData(
        (10L, t("2024-01-01 10:01:00")), // joins 1 (same bucket, within 3min)
        (11L, t("2024-01-01 10:04:30")), // 10:00 bucket but > 10:00:30+3min -> no
        (12L, t("2024-01-01 10:05:30"))) // 10:05 bucket, before l2 -> no
      q.processAllAvailable()
      val got = spark.table("ij_out").select("l_id", "r_id").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 10L)))
    } finally q.stop()
  }

  test("streaming 5-min bars (the aggregation the reference offloaded to MariaDB)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val bars = StreamingPipeline.streamingBars(src.toDF())
    val q = bars.writeStream.format("memory").queryName("bars_out")
      .outputMode("append").start()
    try {
      src.addData(
        Ev(1, t("2024-01-01 10:00:10"), "e", 10.0),
        Ev(2, t("2024-01-01 10:02:00"), "e", 30.0),
        Ev(3, t("2024-01-01 10:04:59"), "e", 20.0),
        Ev(4, t("2024-01-01 10:07:00"), "e", 99.0))
      q.processAllAvailable()
      // advance the watermark past both windows in a second batch
      src.addData(Ev(5, t("2024-01-01 10:30:00"), "e", 1.0))
      q.processAllAvailable()
      val rows = spark.table("bars_out")
        .orderBy("bucket")
        .select($"bucket".cast("string"), $"high", $"low", $"close", $"volume")
        .as[(String, Double, Double, Double, Long)].collect()
      assert(rows.length == 2)
      assert(rows(0) == (("2024-01-01 10:00:00", 30.0, 10.0, 20.0, 3L)))
      assert(rows(1) == (("2024-01-01 10:05:00", 99.0, 99.0, 99.0, 1L)))
    } finally q.stop()
  }

  test("watermark drops late data: a stale event can't reopen an emitted window") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val bars = StreamingPipeline.streamingBars(src.toDF())
    val q = bars.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      src.addData(
        Ev(1, t("2024-01-01 10:00:10"), "e", 10.0),
        Ev(2, t("2024-01-01 10:02:00"), "e", 30.0))
      q.processAllAvailable()
      src.addData(Ev(3, t("2024-01-01 10:30:00"), "e", 1.0)) // flush
      q.processAllAvailable()
      val before = spark.table("late_out")
        .filter($"bucket".cast("string") === "2024-01-01 10:00:00")
        .select("volume").as[Long].collect().toSeq
      assert(before == Seq(2L))
      // 25 minutes late, far beyond the 5-minute watermark: dropped
      src.addData(Ev(4, t("2024-01-01 10:03:00"), "e", 99.0))
      q.processAllAvailable()
      val after = spark.table("late_out")
        .filter($"bucket".cast("string") === "2024-01-01 10:00:00")
        .select("volume").as[Long].collect().toSeq
      assert(after == Seq(2L), "late event must not reopen the closed window")
      assert(spark.table("late_out").filter($"high" === 99.0).isEmpty)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark drops dup keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val dd = StreamingPipeline.dedupWithinWatermark(src.toDF(), Seq("event_id"))
    val q = dd.writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()
    try {
      src.addData(
        Ev(1, t("2024-01-01 10:00:00"), "a", 1.0),
        Ev(1, t("2024-01-01 10:00:30"), "a", 1.0), // dup within watermark
        Ev(2, t("2024-01-01 10:01:00"), "b", 2.0))
      q.processAllAvailable()
      val ids = spark.table("dd_out").select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L))
    } finally q.stop()
  }

  test("decodeJsonStream: the per-topic Kafka decode pipeline (P1-P5), flat and nested") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[String]
    val decoded = StreamingPipeline.decodeJsonStream(
      src.toDF(), "VIX DOUBLE, Timestamp STRING")
    val q = decoded.writeStream.format("memory").queryName("vix_out")
      .outputMode("append").start()
    try {
      src.addData("""{"VIX": 16.04, "Timestamp": "2020-02-07 09:26:12"}""")
      src.addData("""{"VIX": 17.5, "Timestamp": "2020-02-07 09:31:40", "junk": 1}""")
      q.processAllAvailable()
      val rows = spark.table("vix_out")
        .select($"VIX", $"ts".cast("string"), $"bucket".cast("string"))
        .as[(Double, String, String)].collect().sortBy(_._1)
      assert(rows.length == 2)
      assert(rows(0) == ((16.04, "2020-02-07 09:26:12", "2020-02-07 09:25:00")))
      assert(rows(1)._3 == "2020-02-07 09:30:00") // unknown fields dropped, bucket floored
    } finally q.stop()

    // nested one-level struct (the COT message shape, FIXTURES A3)
    val src2 = MemoryStream[String]
    val nested = StreamingPipeline.decodeJsonStream(
      src2.toDF(), "Asset STRUCT<long_pos: INT, short_pos: INT>, Timestamp STRING")
      .select($"Asset.long_pos".as("lp"), $"Asset.short_pos".as("sp"), $"bucket")
    val q2 = nested.writeStream.format("memory").queryName("cot_out")
      .outputMode("append").start()
    try {
      src2.addData("""{"Asset": {"long_pos": 304136, "short_pos": 100790}, "Timestamp": "2020-01-15 11:29:58"}""")
      q2.processAllAvailable()
      val r = spark.table("cot_out").select("lp", "sp").as[(Int, Int)].collect()
      assert(r.toSeq == Seq((304136, 100790)))
    } finally q2.stop()
  }

  test("reference DAG end-to-end: deep joined with 4 aux streams, dedup, sink") {
    implicit val sqlCtx = spark.sqlContext
    val deep = MemoryStream[(Long, Timestamp, Double)]
    val vix = MemoryStream[(Timestamp, Double)]
    val vol = MemoryStream[(Timestamp, Double)]
    val cot = MemoryStream[(Timestamp, Double)]
    val ind = MemoryStream[(Timestamp, Double)]
    val wide = StreamingPipeline.referenceDag(
      deep.toDF().toDF("deep_id", "ts", "micro_price"),
      Seq(
        "vix" -> vix.toDF().toDF("ts", "vix_value"),
        "vol" -> vol.toDF().toDF("ts", "vol_value"),
        "cot" -> cot.toDF().toDF("ts", "cot_value"),
        "ind" -> ind.toDF().toDF("ts", "ind_value")))
    val dir = java.nio.file.Files.createTempDirectory("graft_dag").toString
    val q = StreamingPipeline
      .foreachBatchParquetSink(wide, s"$dir/data", s"$dir/ckpt").start()
    try {
      val t0 = t("2024-01-01 10:00:10")
      deep.addData((7L, t0, 100.5))
      deep.addData((8L, t("2024-01-01 10:20:00"), 101.0)) // no aux partners
      vix.addData((t("2024-01-01 10:01:00"), 16.0))
      vol.addData((t("2024-01-01 10:02:00"), 5000.0))
      cot.addData((t("2024-01-01 10:03:00"), 300000.0))
      ind.addData((t("2024-01-01 10:00:30"), 3.6))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/data")
      assert(out.count() == 1) // only the fully-matched deep row lands
      val row = out.select("deep_id", "micro_price", "vix_value", "vol_value",
        "cot_value", "ind_value").collect()(0)
      assert(row.getLong(0) == 7L && row.getDouble(2) == 16.0 &&
        row.getDouble(3) == 5000.0 && row.getDouble(4) == 300000.0 &&
        row.getDouble(5) == 3.6)
    } finally q.stop()
  }

  test("reference DAG on the engine's local filesystem: same signals and checkpoint tree as Hadoop's") {
    // one data batch, fed before start, so both checkpoints see the same batches
    def run(s: org.apache.spark.sql.SparkSession, dir: String) = {
      implicit val sqlCtx = s.sqlContext
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val deep = MemoryStream[(Long, Timestamp, Double)]
      val aux = Seq(("vix", "10:01:00", 16.0), ("vol", "10:02:00", 5000.0),
        ("cot", "10:03:00", 300000.0), ("ind", "10:00:30", 3.6))
        .map { case (n, ts, v) => (n, MemoryStream[(Timestamp, Double)], (t(s"2024-01-01 $ts"), v)) }
      deep.addData((7L, t("2024-01-01 10:00:10"), 100.5), (8L, t("2024-01-01 10:20:00"), 101.0))
      aux.foreach { case (_, m, row) => m.addData(row) }
      val wide = StreamingPipeline.referenceDag(deep.toDF().toDF("deep_id", "ts", "micro_price"),
        aux.map { case (n, m, _) => n -> m.toDF().toDF("ts", s"${n}_value") })
      val q = StreamingPipeline.foreachBatchParquetSink(wide, s"$dir/data", s"$dir/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val rows = s.read.parquet(s"$dir/data").collect().map(_.toString).sorted.toSeq
      (rows, LocalFsSpec.tree(java.nio.file.Paths.get(s"$dir/ckpt")))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_dag_fs").toString
    val stock = spark.newSession()
    stock.conf.set(ops.LocalFs.AbstractFsKey, ops.LocalFs.StockAbstractFs)
    assert(org.apache.hadoop.fs.FileContext.getFileContext(stock.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass.getName == ops.LocalFs.StockAbstractFs)
    val (engineRows, engineTree) = run(spark.newSession(), s"$dir/engine")
    val (stockRows, stockTree) = run(stock, s"$dir/stock")
    assert(engineRows.size == 1 && engineRows == stockRows)
    assert(engineTree.exists(_._1.endsWith(".delta")) && engineTree == stockTree)
  }

  test("pivot-shaped DAG twin matches the join-chain DAG (2 stateful ops vs 9)") {
    // Same fixture as the chain test: only deep row 7 has all four aux
    // partners; row 8 must be dropped by the inner semantics in BOTH
    // shapes. The pivot twin must reproduce the chain's schema (deep
    // cols + bucket + per-aux payload/ts) and values exactly.
    implicit val sqlCtx = spark.sqlContext
    val deep = MemoryStream[(Long, Timestamp, Double)]
    val vix = MemoryStream[(Timestamp, Double)]
    val vol = MemoryStream[(Timestamp, Double)]
    val cot = MemoryStream[(Timestamp, Double)]
    val ind = MemoryStream[(Timestamp, Double)]
    val wide = StreamingPipeline.referenceDagPivot(
      deep.toDF().toDF("deep_id", "ts", "micro_price"),
      Seq(
        "vix" -> vix.toDF().toDF("ts", "vix_value"),
        "vol" -> vol.toDF().toDF("ts", "vol_value"),
        "cot" -> cot.toDF().toDF("ts", "cot_value"),
        "ind" -> ind.toDF().toDF("ts", "ind_value")))
    // the CHAIN's exact wide schema: per-aux columns as (<name>_ts,
    // <payload>) — the renamed aux frame's own column order
    assert(wide.columns.toSeq == Seq("deep_id", "ts", "micro_price", "bucket",
      "vix_ts", "vix_value", "vol_ts", "vol_value", "cot_ts", "cot_value",
      "ind_ts", "ind_value"))
    assert(wide.columns.toSeq == StreamingPipeline.referenceDag(
      deep.toDF().toDF("deep_id", "ts", "micro_price"),
      Seq(
        "vix" -> vix.toDF().toDF("ts", "vix_value"),
        "vol" -> vol.toDF().toDF("ts", "vol_value"),
        "cot" -> cot.toDF().toDF("ts", "cot_value"),
        "ind" -> ind.toDF().toDF("ts", "ind_value"))).columns.toSeq,
      "pivot twin must reproduce the chain's schema verbatim")
    val q = wide.writeStream.format("memory").queryName("dag_pivot_out")
      .outputMode("append").start()
    try {
      val t0 = t("2024-01-01 10:00:10")
      deep.addData((7L, t0, 100.5))
      deep.addData((8L, t("2024-01-01 10:20:00"), 101.0)) // no aux partners
      vix.addData((t("2024-01-01 10:01:00"), 16.0))
      vol.addData((t("2024-01-01 10:02:00"), 5000.0))
      cot.addData((t("2024-01-01 10:03:00"), 300000.0))
      ind.addData((t("2024-01-01 10:00:30"), 3.6))
      q.processAllAvailable()
      // The pivot agg emits when the GLOBAL watermark (min across all
      // five streams) passes row 7's window end, so every stream needs
      // a later sentinel; the aux sentinels sit in a bucket with no
      // deep partner so they add no output row.
      deep.addData((9L, t("2024-01-01 11:00:00"), 99.0))
      Seq(vix, vol, cot, ind).foreach(_.addData((t("2024-01-01 13:30:00"), 0.0)))
      q.processAllAvailable()
      val out = spark.table("dag_pivot_out")
      assert(out.count() == 1)
      val row = out.select("deep_id", "micro_price", "vix_value", "vol_value",
        "cot_value", "ind_value", "vix_ts").collect()(0)
      assert(row.getLong(0) == 7L && row.getDouble(1) == 100.5 &&
        row.getDouble(2) == 16.0 && row.getDouble(3) == 5000.0 &&
        row.getDouble(4) == 300000.0 && row.getDouble(5) == 3.6 &&
        row.getTimestamp(6) == t("2024-01-01 10:01:00"))
    } finally q.stop()
  }

  test("pivot DAG twin: null aux payload keeps the row; long payloads keep their type; zero aux degrades like the chain") {
    implicit val sqlCtx = spark.sqlContext
    // (a) a matched aux row with a NULL payload must NOT drop the deep
    // row (the chain's join predicate never touches the payload), and
    // (b) a long payload must come back as long, not the union's double
    val deep = MemoryStream[(Long, Timestamp, Double)]
    val cnt = MemoryStream[(Timestamp, java.lang.Long)]
    val wide = StreamingPipeline.referenceDagPivot(
      deep.toDF().toDF("deep_id", "ts", "micro_price"),
      Seq("cnt" -> cnt.toDF().toDF("ts", "cnt_value")))
    assert(wide.schema("cnt_value").dataType ==
      org.apache.spark.sql.types.LongType, "payload type must survive the pivot")
    val q = wide.writeStream.format("memory").queryName("dag_pivot_null")
      .outputMode("append").start()
    try {
      deep.addData((1L, t("2024-01-01 10:00:10"), 100.5)) // partner: null payload
      deep.addData((2L, t("2024-01-01 10:20:10"), 101.0)) // partner: long payload
      cnt.addData((t("2024-01-01 10:01:00"), null.asInstanceOf[java.lang.Long]))
      cnt.addData((t("2024-01-01 10:21:00"), java.lang.Long.valueOf(42L)))
      q.processAllAvailable()
      deep.addData((9L, t("2024-01-01 12:00:00"), 99.0))
      cnt.addData((t("2024-01-01 13:30:00"), java.lang.Long.valueOf(0L)))
      q.processAllAvailable()
      val out = spark.table("dag_pivot_null")
        .select($"deep_id", $"cnt_value").orderBy("deep_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      assert(out.toSeq == Seq((1L, None), (2L, Some(42L))),
        s"null-payload match must survive with a null cell: ${out.toSeq}")
    } finally q.stop()
    // (c) zero aux streams: drop-in for the chain's watermark + dedup
    val deep2 = MemoryStream[(Long, Timestamp, Double)]
    val bare = StreamingPipeline.referenceDagPivot(
      deep2.toDF().toDF("deep_id", "ts", "micro_price"), Nil)
    val q2 = bare.writeStream.format("memory").queryName("dag_pivot_bare")
      .outputMode("append").start()
    try {
      deep2.addData((1L, t("2024-01-01 10:00:10"), 1.0))
      deep2.addData((1L, t("2024-01-01 10:00:10"), 1.0)) // replay duplicate
      q2.processAllAvailable()
      assert(spark.table("dag_pivot_bare").count() == 1L)
    } finally q2.stop()
  }

  test("pivot DAG twin: multi-match pick pairs (ts, value) from ONE source row") {
    // r13 (ADVICE r12): with two matches of one aux in a deep row's
    // window, maxing aux_ts and aux_v INDEPENDENTLY could emit the
    // later row's timestamp with the earlier row's larger payload — a
    // row no input produced. The max-struct pick must take the whole
    // max-aux_ts row: here the later match carries the SMALLER value,
    // so the cross-column mix (10:02, 5.0) is distinguishable from the
    // correct pair (10:02, 1.0). Batch frames drive the same production
    // function (watermarks are no-ops on batch).
    val deep = Seq((7L, t("2024-01-01 10:00:10"), 100.5))
      .toDF("deep_id", "ts", "micro_price")
    val aux = Seq(
      (t("2024-01-01 10:01:00"), 5.0), // earlier ts, larger value
      (t("2024-01-01 10:02:00"), 1.0)) // later ts, smaller value
      .toDF("ts", "a_value")
    val out = StreamingPipeline.referenceDagPivot(deep, Seq("a" -> aux))
      .select($"deep_id", $"a_ts", $"a_value").collect()
    assert(out.length == 1)
    assert(out(0).getTimestamp(1) == t("2024-01-01 10:02:00") &&
      out(0).getDouble(2) == 1.0,
      s"picked pair must come from the max-aux_ts row: ${out.toSeq}")
  }

  test("chained stateful ops: 10-min rollup over streaming 5-min bars (2.4.4 blocker)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val rollup = StreamingPipeline.streamingBarsRollup(src.toDF())
    val q = rollup.writeStream.format("memory").queryName("rollup_out")
      .outputMode("append").start()
    try {
      src.addData(
        Ev(1, t("2024-01-01 10:01:00"), "e", 10.0),
        Ev(2, t("2024-01-01 10:06:00"), "e", 30.0),
        Ev(3, t("2024-01-01 10:11:00"), "e", 20.0))
      q.processAllAvailable()
      src.addData(Ev(9, t("2024-01-01 11:00:00"), "e", 1.0))
      q.processAllAvailable()
      src.addData(Ev(10, t("2024-01-01 12:00:00"), "e", 1.0))
      q.processAllAvailable()
      val rows = spark.table("rollup_out")
        .orderBy("bucket10")
        .select($"bucket10".cast("string"), $"high", $"low", $"volume")
        .as[(String, Double, Double, Long)].collect()
      assert(rows.nonEmpty)
      assert(rows(0) == (("2024-01-01 10:00:00", 30.0, 10.0, 2L)))
    } finally q.stop()
  }

  test("streaming indicator layer equals the batch W1/W2 frame (3 chained stateful ops)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    // dedup -> bars -> sliding MA: the full third-depth chain
    val ma = StreamingPipeline.streamingIndicatorDag(src.toDF())
    val q = ma.writeStream.format("memory").queryName("ma_out")
      .outputMode("append").start()
    try {
      // gapless 10:00-11:55 series (the regime where the 6-bar row
      // frame and the 30-min sliding window coincide), 2 events per
      // bucket, plus replayed duplicates the dedup must drop
      val evs = (0 until 48).map { i =>
        Ev(i, new Timestamp(t("2024-01-01 10:00:00").getTime + i * 150000L),
          "e", (i * 7 % 23).toDouble)
      }
      src.addData(evs)
      src.addData(evs.take(10)) // duplicate event_ids within the watermark
      q.processAllAvailable()
      src.addData(Ev(99, t("2024-01-02 10:00:00"), "e", 1.0)) // flush watermark
      q.processAllAvailable()
      val got = spark.table("ma_out")
        .select($"bucket".cast("string"), $"price_ma6", $"vol_ma6", $"n_bars")
        .as[(String, Double, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // batch twin: bars + the exact W1/W2 trailing frame over the
      // DEDUPED events (same decimal treatment as the streaming agg)
      val w6 = org.apache.spark.sql.expressions.Window
        .orderBy("bucket").rowsBetween(-5, 0)
      val batch = evs.toDF()
        .groupBy(graft.ops.Core.bucket5m($"ts").as("bucket"))
        .agg(max_by($"value", $"event_id").as("close"), count(lit(1)).as("volume"))
        .select($"bucket".cast("string").as("bucket"),
          (sum($"close".cast("decimal(18,2)")).over(w6).cast("double") /
            count(lit(1)).over(w6).cast("double")).as("price_ma6"),
          (sum($"volume").over(w6).cast("double") /
            count(lit(1)).over(w6).cast("double")).as("vol_ma6"),
          count(lit(1)).over(w6).as("n_bars"))
        .as[(String, Double, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got.keySet == batch.keySet,
        s"streamed buckets ${got.keySet} != batch ${batch.keySet}")
      batch.foreach { case (b, exp) =>
        assert(got(b) == exp, s"bucket $b: streaming ${got(b)} != batch $exp")
      }
      // steady state really is the 6-bar frame (not a lucky partial)
      assert(got.values.count(_._3 == 6L) >= 6)
    } finally q.stop()
  }

  test("signal projection encodes the timestamp as a Kafka-value JSON") {
    val df = Seq(t("2024-01-01 10:05:00")).toDF("bucket")
    val out = StreamingPipeline.signalProjection(df, "bucket")
      .as[String].collect()
    assert(out.toSeq == Seq("""{"Timestamp":"2024-01-01 10:05:00"}"""))
  }

  test("mapGroupsWithState: running per-key stats accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val stats = StreamingPipeline.runningStats(src.toDF())
    val q = stats.writeStream.format("memory").queryName("rs_out")
      .outputMode("update").start()
    try {
      src.addData(
        Ev(1, t("2024-01-01 10:00:00"), "a", 10.0),
        Ev(2, t("2024-01-01 10:01:00"), "a", 30.0),
        Ev(3, t("2024-01-01 10:02:00"), "b", 5.0))
      q.processAllAvailable()
      src.addData(Ev(4, t("2024-01-01 10:03:00"), "a", 2.0))
      q.processAllAvailable()
      // memory sink in update mode appends each update; take the last per key
      val last = spark.table("rs_out")
        .groupBy($"key").agg(max($"n").as("n"), max($"maxValue").as("mx"))
        .as[(String, Long, Double)].collect().sortBy(_._1)
      assert(last.toSeq == Seq(("a", 3L, 30.0), ("b", 1L, 5.0)))
    } finally q.stop()
  }

  test("transformWithState twin equals mapGroupsWithState (RocksDB state store)") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB provider; scope it to
    // this test and restore the default after
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = MemoryStream[Ev]
      val stats = StreamingPipeline.runningStatsTWS(src.toDF())
      val q = stats.writeStream.format("memory").queryName("tws_out")
        .outputMode("update").start()
      try {
        src.addData(
          Ev(1, t("2024-01-01 10:00:00"), "a", 10.0),
          Ev(2, t("2024-01-01 10:01:00"), "a", 30.0),
          Ev(3, t("2024-01-01 10:02:00"), "b", 5.0))
        q.processAllAvailable()
        src.addData(Ev(4, t("2024-01-01 10:03:00"), "a", 2.0))
        q.processAllAvailable()
        // same per-key totals the mapGroupsWithState form produces
        val last = spark.table("tws_out")
          .groupBy($"key").agg(max($"n").as("n"), max($"maxValue").as("mx"),
            max($"sum").as("s"))
          .as[(String, Long, Double, Double)].collect().sortBy(_._1)
        assert(last.toSeq == Seq(("a", 3L, 30.0, 42.0), ("b", 1L, 5.0, 5.0)))
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("foreachBatch parquet sink: skips empty batches, stamps batch_id") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val src = MemoryStream[Ev]
    val q = StreamingPipeline
      .foreachBatchParquetSink(src.toDF(), s"$dir/data", s"$dir/ckpt")
      .start()
    try {
      src.addData(Ev(1, t("2024-01-01 10:00:00"), "a", 1.0))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/data")
      assert(out.count() == 1)
      assert(out.columns.contains("batch_id"))
    } finally q.stop()
  }

  test("streaming sessions: gap merge and watermark-gated close") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    // Ev.event_type stands in for the user key
    val out = StreamingPipeline.streamingSessions(
      src.toDF().withColumnRenamed("event_type", "user_id"), gap = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      src.addData(
        Ev(1, t("2024-01-01 10:00:00"), "u1", 5.0),
        Ev(2, t("2024-01-01 10:05:00"), "u1", 7.0), // merges with 1 (gap < 10m)
        Ev(3, t("2024-01-01 10:30:00"), "u1", 2.0)) // new session (gap 25m)
      q.processAllAvailable()
      src.addData(Ev(9, t("2024-01-01 12:00:00"), "u1", 1.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select("n_events", "max_value").as[(Long, Double)].collect().toSet
      assert(rows.contains((2L, 7.0)), "first two events must merge into one session")
      assert(rows.contains((1L, 2.0)), "the 25-minute gap must start a new session")
    } finally q.stop()
  }

  test("streaming corpus ingest: quality gate + watermark-bounded exact dedup") {
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over a lazy dog while the calm river " +
      "keeps flowing past green hills under a bright morning sky today"
    val junk = Array.fill(30)("a").mkString(" ") // repetitive, stop-heavy, short
    val src = MemoryStream[(Long, Timestamp, String, String)]
    val out = StreamingPipeline.streamingCorpusIngest(
      src.toDF().toDF("doc_id", "ts", "text", "lang"))
    val q = out.writeStream.format("memory").queryName("corpus_out")
      .outputMode("append").start()
    try {
      src.addData(
        (1L, t("2024-01-01 10:00:00"), good, "en"),
        (2L, t("2024-01-01 10:00:30"), junk, "en"), // fails the quality gate
        (3L, t("2024-01-01 10:01:00"), good, "en")) // duplicate digest of 1 -> dropped
      q.processAllAvailable()
      src.addData((4L, t("2024-01-01 11:00:00"), good + " extra words here", "en"))
      q.processAllAvailable()
      val kept = spark.table("corpus_out").select("doc_id").as[Long].collect().toSet
      assert(kept.contains(1L), "high-quality first copy must pass")
      assert(!kept.contains(2L), "low-quality doc must be filtered")
      assert(!kept.contains(3L), "duplicate digest within watermark must be dropped")
      assert(kept.contains(4L), "distinct later doc must pass")
    } finally q.stop()
  }

  test("streaming normalized ingest dedups case/whitespace variants at the gate") {
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over a lazy dog while the calm river " +
      "keeps flowing past green hills under a bright morning sky today"
    // variant: same words, different case + a tab + trailing spaces —
    // raw digest dedup would keep it; normalized dedup must not
    val variant = ("The  QUICK brown fox jumps over a lazy dog while the calm river " +
      "keeps flowing past green hills under a bright morning sky today  ")
      .replace("QUICK brown", "QUICK\tbrown")
    val distinct = "an entirely different sentence with plenty of fresh unique " +
      "words spread out across the line keeps the quality gate satisfied here"
    val src = MemoryStream[(Long, Timestamp, String, String)]
    val out = StreamingPipeline.streamingNormalizedIngest(
      src.toDF().toDF("doc_id", "ts", "text", "lang"))
    val q = out.writeStream.format("memory").queryName("norm_ingest_out")
      .outputMode("append").start()
    try {
      src.addData(
        (1L, t("2024-01-01 10:00:00"), good, "en"),
        (2L, t("2024-01-01 10:00:30"), variant, "en"),
        (3L, t("2024-01-01 10:01:00"), distinct, "en"))
      q.processAllAvailable()
      val kept = spark.table("norm_ingest_out").select("doc_id").as[Long].collect().toSet
      assert(kept.contains(1L) && kept.contains(3L))
      assert(!kept.contains(2L),
        "a case/whitespace variant must share the normalized digest and drop")
    } finally q.stop()
  }

  test("streaming near-dup ingest drops signature-colliding docs within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    // The signature is a commutative vote over the trigram MULTISET, so
    // swapping two segments that are each flanked by the same 2-token
    // anchor preserves every boundary trigram and hence the signature
    // EXACTLY (section reordering around shared boilerplate — the dup
    // class digest dedup misses). A token-level edit is NOT a reliable
    // fixture: it shifts the multiset and some zero-margin bit usually
    // flips (observed while building this spec).
    val anchor = "market update"
    val intro = "good morning readers here is the daily briefing"
    val segX = "equities rallied strongly as tech earnings beat consensus estimates"
    val segY = "bonds sold off after the auction drew unexpectedly weak demand"
    val outro = "that concludes the summary see you tomorrow"
    val a = s"$intro $anchor $segX $anchor $segY $anchor $outro"
    val b = s"$intro $anchor $segY $anchor $segX $anchor $outro"
    val c = ("completely different content about market data engines running " +
      "windowed aggregations over partitioned parquet at considerable scale ") * 5
    // precondition, asserted so the test can't silently weaken: the
    // rewrite really is signature-equal, the distinct doc really isn't
    val sigs = Seq(a, b, c).toDF("text")
      .select(graft.ops.TextDedup.simhash64Col(
        graft.functions.token_ngrams(split($"text", " "), 3)).as("s"))
      .as[Long].collect()
    assert(a != b, "the reordered doc must be textually distinct")
    assert(sigs(0) == sigs(1), "segment swap must preserve the simhash signature")
    assert(sigs(0) != sigs(2), "distinct content must differ in signature")
    val src = MemoryStream[(Long, Timestamp, String, String)]
    val out = StreamingPipeline.streamingNearDupIngest(
      src.toDF().toDF("doc_id", "ts", "text", "lang"))
    val q = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      src.addData(
        (1L, t("2024-01-01 10:00:00"), a, "en"),
        (2L, t("2024-01-01 10:00:30"), b, "en"), // near-dup of 1 -> dropped
        (3L, t("2024-01-01 10:01:00"), c, "en"),
        // too short to shingle: must pass through, never be dropped —
        // two of them, to prove short docs don't dedup against each other
        (4L, t("2024-01-01 10:01:30"), "buy now", "en"),
        (5L, t("2024-01-01 10:02:00"), "sell later", "en"))
      q.processAllAvailable()
      val kept = spark.table("neardup_out").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 3L, 4L, 5L),
        s"expected the near-dup rewrite dropped, originals and short docs kept, got $kept")
    } finally q.stop()
  }

  test("foreachBatch sink is idempotent: replaying a micro-batch leaves one copy") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_replay").toString
    val batch = Seq(
      Ev(1, t("2024-01-01 10:00:00"), "a", 1.0),
      Ev(2, t("2024-01-01 10:01:00"), "a", 2.0)).toDF()
    StreamingPipeline.writeBatchIdempotent(batch, 7L, s"$dir/data")
    // a failure replay re-runs the same batchId with the same data
    StreamingPipeline.writeBatchIdempotent(batch, 7L, s"$dir/data")
    val out = spark.read.parquet(s"$dir/data")
    assert(out.count() == 2, "replayed batch must overwrite, not append")
    // a different batchId lands alongside, untouched by later replays
    StreamingPipeline.writeBatchIdempotent(batch.limit(1), 8L, s"$dir/data")
    StreamingPipeline.writeBatchIdempotent(batch, 7L, s"$dir/data")
    val all = spark.read.parquet(s"$dir/data")
    assert(all.count() == 3)
    assert(all.filter($"batch_id" === 8L).count() == 1)
  }

  test("concurrent per-batch state writes keep the sequential semantics") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_par").toString
    val batch = Seq(
      Ev(1, t("2024-01-01 10:00:00"), "a", 1.0),
      Ev(2, t("2024-01-01 10:01:00"), "a", 2.0)).toDF()
    // flags in input order; the empty write is skipped exactly like the
    // sequential form (no dir created, false flag)
    val flags = StreamingPipeline.writeBatchIdempotentAll(
      Seq(batch -> s"$dir/a", batch.limit(0) -> s"$dir/b",
        batch.limit(1) -> s"$dir/c"), 3L)
    assert(flags == Seq(true, false, true))
    assert(spark.read.parquet(s"$dir/a").count() == 2)
    assert(!new java.io.File(s"$dir/b").exists())
    assert(spark.read.parquet(s"$dir/c").count() == 1)
    // a same-batch replay stays idempotent per table
    StreamingPipeline.writeBatchIdempotentAll(Seq(batch -> s"$dir/a"), 3L)
    assert(spark.read.parquet(s"$dir/a").count() == 2)
    // duplicate targets are refused (two threads overwriting one dir
    // would race the commit protocol)
    intercept[IllegalArgumentException] {
      StreamingPipeline.writeBatchIdempotentAll(
        Seq(batch -> s"$dir/a", batch -> s"$dir/a"), 4L)
    }
  }

  test("a sibling writer failure still reports every successful write via onWritten") {
    // r18, ADVICE r17: callers holding a per-stream FsMemo note each
    // write there — the memo permanently negative-caches state tables,
    // so a success skipped on a sibling's failure would leave the memo
    // claiming the caller's own on-disk state is absent. The callback
    // must fire for data-bearing successes (and only those) BEFORE the
    // failure rethrows; the failure itself must be the writer's own
    // error, not an NPE over an unfilled slot.
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_fail").toString
    val batch = Seq(
      Ev(1, t("2024-01-01 10:00:00"), "a", 1.0),
      Ev(2, t("2024-01-01 10:01:00"), "a", 2.0)).toDF()
    val poisoned = batch.select(
      org.apache.spark.sql.functions.raise_error(
        org.apache.spark.sql.functions.lit("writer boom")).as("x"))
    val noted = scala.collection.mutable.ArrayBuffer.empty[Int]
    val thrown = intercept[Exception] {
      StreamingPipeline.writeBatchIdempotentAll(
        Seq(batch -> s"$dir/ok", batch.limit(0) -> s"$dir/empty",
          poisoned -> s"$dir/bad"), 5L,
        onWritten = i => { noted += i; () })
    }
    // the real failure propagates (raise_error's message survives the
    // Spark wrapping), the successful sibling was noted, the empty
    // skip was NOT (nothing on disk to note), and the ok write landed
    assert(Option(thrown.getMessage).exists(_.contains("writer boom")) ||
      Option(thrown.getCause).exists(c => Option(c.getMessage).exists(_.contains("writer boom"))),
      s"expected the writer's own error, got: $thrown")
    assert(noted.toSeq == Seq(0))
    assert(spark.read.parquet(s"$dir/ok").count() == 2)
    assert(!new java.io.File(s"$dir/empty").exists())
  }

  test("kafka source/sink builders carry the reference's subscription and producer options") {
    import graft.streaming.Connectors
    val src = Connectors.kafkaSourceOptions("broker:9092", Seq("deep", "vix", "volume"), "earliest")
    assert(src("kafka.bootstrap.servers") == "broker:9092")
    assert(src("subscribe") == "deep,vix,volume")
    assert(src("startingOffsets") == "earliest") // O5: seek_to_end <-> "latest"
    assert(src("failOnDataLoss") == "false")
    // default offsets are the reference's seek_to_end
    assert(Connectors.kafkaSourceOptions("b", Seq("t"))("startingOffsets") == "latest")
    val snk = Connectors.kafkaSinkOptions("broker:9092", "signal", "/tmp/ck")
    assert(snk("topic") == "signal" && snk("checkpointLocation") == "/tmp/ck")
    // builders construct without a connector jar (load()/start() is the
    // deployment's line, where spark-sql-kafka is on the classpath)
    Connectors.kafkaSource(spark, "broker:9092", Seq("deep"))
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    Connectors.kafkaSink(ms.toDF().toDF("key", "value"), "broker:9092", "signal", "/tmp/ck")
  }

  test("console debug sink (K4) starts and drains a micro-batch") {
    import graft.streaming.Connectors
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Connectors.consoleSink(ms.toDF(), numRows = 5).start()
    try {
      ms.addData(Ev(1, t("2024-01-01 10:00:00"), "a", 1.0))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"console sink failed: ${q.exception}")
      assert(q.lastProgress.numInputRows == 1)
    } finally q.stop()
  }

  test("jdbc foreachBatch writer is idempotent against embedded Derby") {
    import graft.streaming.Connectors
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val props = new java.util.Properties()
    val batch = Seq(
      Ev(1, t("2024-01-01 10:00:00"), "a", 1.0),
      Ev(2, t("2024-01-01 10:01:00"), "a", 2.0)).toDF()
    Connectors.writeBatchIdempotentJdbc(batch, 7L, url, "signals", props)
    // failure replay: same batchId, same data -> still one copy
    Connectors.writeBatchIdempotentJdbc(batch, 7L, url, "signals", props)
    val out = spark.read.jdbc(url, "signals", props)
    assert(out.count() == 2, "replayed batch must delete-then-append, not double up")
    // another batch lands alongside; replaying 7 again leaves 8 alone
    Connectors.writeBatchIdempotentJdbc(batch.limit(1), 8L, url, "signals", props)
    Connectors.writeBatchIdempotentJdbc(batch, 7L, url, "signals", props)
    val all = spark.read.jdbc(url, "signals", props)
    assert(all.count() == 3)
    assert(all.filter($"batch_id" === 8L).count() == 1)
  }

  test("idempotent sinks land every row exactly once when a committed batch replays") {
    // Exactly-once from a replayable source + the offset/commit log +
    // an idempotent sink: two file-source batches commit, then deleting
    // commits/1 stands in for a crash after the sink wrote batch 1 but
    // before the engine committed it, so the restart on the same
    // checkpoint hands batch 1 to the sink a second time
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.streaming.DataStreamWriter
    import graft.streaming.Connectors
    val url = "jdbc:derby:memory:graftreplay;create=true"
    val props = new java.util.Properties()
    val sinks: Seq[(String, (DataFrame, String) => DataStreamWriter[Row], String => DataFrame)] = Seq(
      ("parquet",
        (df, dir) => StreamingPipeline.foreachBatchParquetSink(df, s"$dir/data", s"$dir/ckpt"),
        dir => spark.read.parquet(s"$dir/data")),
      ("jdbc",
        (df, dir) => Connectors.foreachBatchJdbcSink(df, url, "replayed", props, s"$dir/ckpt"),
        _ => spark.read.jdbc(url, "replayed", props)))
    sinks.foreach { case (name, sink, read) =>
      val dir = Files.createTempDirectory(s"graft_replay_$name").toString
      Files.createDirectories(Paths.get(s"$dir/in"))
      Seq(Seq(1L, 2L), Seq(3L, 4L, 5L)).zipWithIndex.foreach { case (ids, i) =>
        val tmp = Files.writeString(Paths.get(s"$dir/part$i.json"),
          ids.map(id => s"""{"event_id": $id, "value": ${id * 1.5}}""").mkString("\n"))
        Files.move(tmp, Paths.get(s"$dir/in/part$i.json"), StandardCopyOption.ATOMIC_MOVE)
      }
      def run(): Array[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
        val src = spark.readStream.schema("event_id LONG, value DOUBLE")
          .option("maxFilesPerTrigger", 1).json(s"$dir/in")
        val q = sink(src, dir).start()
        try { q.processAllAvailable(); q.recentProgress }
        finally q.stop()
      }
      assert(run().count(_.numInputRows > 0) == 2, s"$name: expected two data batches")
      val commit1 = Paths.get(s"$dir/ckpt/commits/1")
      assert(Files.exists(commit1), s"$name: batch 1 never committed")
      Files.delete(commit1)
      Files.deleteIfExists(Paths.get(s"$dir/ckpt/commits/.1.crc"))
      val replay = run()
      assert(replay.exists(p => p.batchId == 1 && p.numInputRows > 0),
        s"$name: restart did not replay batch 1: ${replay.map(_.json).toSeq}")
      val got = read(dir).select($"event_id").as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 2L, 3L, 4L, 5L), s"$name: rows not exactly once: $got")
    }
  }

  test("processing-time trigger is applied to the sink and still delivers all rows") {
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_trigger").toString
    val ms = MemoryStream[Ev]
    val q = StreamingPipeline.foreachBatchParquetSink(
        ms.toDF(), s"$dir/data", s"$dir/ck",
        trigger = Some(Trigger.ProcessingTime("50 milliseconds")))
      .start()
    try {
      ms.addData(Ev(1, t("2024-01-01 10:00:00"), "a", 1.0))
      q.processAllAvailable()
      // the micro-batch executor must actually be the processing-time
      // one (private[sql] members are public in bytecode; reflection
      // keeps this assertion from silently testing nothing)
      val exec = q.getClass.getMethod("streamingQuery").invoke(q)
      val trig = exec.getClass.getMethod("triggerExecutor").invoke(exec)
      assert(trig.getClass.getSimpleName.contains("ProcessingTime"),
        s"expected ProcessingTimeExecutor, got ${trig.getClass.getName}")
      assert(spark.read.parquet(s"$dir/data").count() == 1)
    } finally q.stop()
  }

  // shared driver for the full-stack batch-equality tests: a gapless
  // 10:00-14:55 series (60 bars, 2 events/bar — the regime where row
  // frames and sliding time windows coincide), plus a far-future flush
  private def gaplessBars60: (Seq[Ev], org.apache.spark.sql.DataFrame) = {
    val evs = (0 until 120).map { i =>
      Ev(i, new Timestamp(t("2024-01-01 10:00:00").getTime + i * 150000L),
        "e", (i * 7 % 23).toDouble + (i % 5) * 0.25)
    }
    val batchBars = evs.toDF()
      .groupBy(graft.ops.Core.bucket5m($"ts").as("bucket"))
      .agg(max($"value").as("high"), min($"value").as("low"),
        max_by($"value", $"event_id").as("close"), count(lit(1)).as("volume"),
        min_by($"value", $"event_id").as("open"))
    (evs, batchBars)
  }

  test("full streaming indicator stack equals batch W1-W7 bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val (evs, batchBars) = gaplessBars60
    val src = MemoryStream[Ev]
    val q = StreamingPipeline.streamingIndicatorsFull(src.toDF())
      .writeStream.format("memory").queryName("indfull_out")
      .outputMode("append").start()
    try {
      evs.grouped(40).foreach(src.addData(_))
      q.processAllAvailable()
      src.addData(Ev(999, t("2024-01-02 10:00:00"), "e", 1.0)) // flush watermark
      q.processAllAvailable()
      val cols = Seq("close", "volume", "vol_ma6", "vol_ma20", "price_ma20",
        "upper_bb_dist", "lower_bb_dist", "stoch", "price_change", "atr")
      def keyed(df: org.apache.spark.sql.DataFrame) = df
        .select($"bucket".cast("string") +: cols.map(c => col(c).cast("string")): _*)
        .collect().map(r => r.getString(0) -> (1 until 11).map(r.getString)).toMap
      val got = keyed(spark.table("indfull_out"))
      val want = keyed(graft.ops.Indicators.withIndicators(batchBars))
      assert(got.keySet == want.keySet, "every closed bar must emit exactly once")
      assert(got.size == 60)
      // exact equality, column by column — the decimal discipline makes
      // the stream's array folds bit-equal to the batch window sums
      want.foreach { case (bucket, w) =>
        assert(got(bucket) == w, s"bucket $bucket: got ${got(bucket)}, want $w")
      }
    } finally q.stop()
  }

  test("streaming feature matrix equals the composed batch pieces") {
    implicit val sqlCtx = spark.sqlContext
    val (evs, batchBars) = gaplessBars60
    val src = MemoryStream[Ev]
    val q = StreamingPipeline.streamingFeatureMatrix(src.toDF())
      .writeStream.format("memory").queryName("fm_out")
      .outputMode("append").start()
    try {
      evs.grouped(45).foreach(src.addData(_))
      q.processAllAvailable()
      src.addData(Ev(999, t("2024-01-02 10:00:00"), "e", 1.0))
      q.processAllAvailable()
      val cols = Seq("close", "volume", "vol_ma6", "vol_ma20", "price_ma20",
        "upper_bb_dist", "lower_bb_dist", "stoch", "price_change", "atr",
        "candle_size", "wick_size", "wick_prct", "week_day", "week_of_month",
        "session_start", "day_1", "day_2", "day_3", "day_4",
        "week_1", "week_2", "week_3", "week_4", "up1", "up2", "down1", "down2")
      def keyed(df: org.apache.spark.sql.DataFrame) = df
        .select($"bucket".cast("string") +: cols.map(c => col(c).cast("string")): _*)
        .collect().map(r => r.getString(0) -> (1 to cols.size).map(r.getString)).toMap
      val got = keyed(spark.table("fm_out"))
      // expected: the already-proven batch pieces joined on bucket —
      // indicators (W1-W7), targets (W8, lead-complete rows only), and
      // the shared candle/calendar expressions
      val ind = graft.ops.Indicators.withIndicators(batchBars)
      val tgt = graft.ops.Indicators.withTargets(batchBars)
        .filter($"p15_close".isNotNull)
        .select($"bucket", $"up1", $"up2", $"down1", $"down2")
      val extras = batchBars.select(Seq(col("bucket")) ++
        graft.ops.Indicators.candleCalendarBase ++
        graft.ops.Indicators.calendarOneHots: _*)
      val want = keyed(ind.join(tgt, "bucket").join(extras, "bucket")
        .filter($"stoch".isNotNull && $"price_change".isNotNull))
      assert(want.nonEmpty && got.keySet == want.keySet,
        s"emitted ${got.size} rows, expected ${want.size}")
      want.foreach { case (bucket, w) =>
        assert(got(bucket) == w, s"bucket $bucket:\n got ${got(bucket)}\nwant $w")
      }
    } finally q.stop()
  }

  test("per-series streaming feature matrix equals the composed batch pieces per type") {
    // r16: the streaming twin of feature_matrix_by_type — two
    // interleaved series, each gapless per 5-min bucket (2 events per
    // bucket per type) with diverging values, driven through the
    // keyed form; per type, the emitted rows must bit-equal the same
    // composed batch pieces the global test proves, computed over
    // that type's events alone.
    implicit val sqlCtx = spark.sqlContext
    val types = Seq("a", "b")
    val evs = (0 until 240).map { i =>
      val tn = types(i % 2)
      // 11.37 is not a multiple of the base grid's 0.25 step, so the
      // two series' closes can never coincide in any bucket
      val off = if (tn == "a") 0.0 else 11.37
      Ev(i, new Timestamp(t("2024-01-01 10:00:00").getTime + (i / 2) * 150000L),
        tn, (i * 7 % 23).toDouble + (i % 5) * 0.25 + off)
    }
    val src = MemoryStream[Ev]
    val q = StreamingPipeline.streamingFeatureMatrixBy(src.toDF())
      .writeStream.format("memory").queryName("fmby_out")
      .outputMode("append").start()
    try {
      evs.grouped(90).foreach(src.addData(_))
      q.processAllAvailable()
      src.addData(Ev(9999, t("2024-01-02 10:00:00"), "a", 1.0))
      q.processAllAvailable()
      val cols = Seq("close", "volume", "vol_ma6", "vol_ma20", "price_ma20",
        "upper_bb_dist", "lower_bb_dist", "stoch", "price_change", "atr",
        "candle_size", "wick_size", "wick_prct", "week_day", "week_of_month",
        "session_start", "day_1", "day_2", "day_3", "day_4",
        "week_1", "week_2", "week_3", "week_4", "up1", "up2", "down1", "down2")
      def keyed(df: org.apache.spark.sql.DataFrame) = df
        .select($"bucket".cast("string") +: cols.map(c => col(c).cast("string")): _*)
        .collect().map(r => r.getString(0) -> (1 to cols.size).map(r.getString)).toMap
      val out = spark.table("fmby_out")
      types.foreach { tn =>
        val got = keyed(out.filter($"event_type" === tn))
        val batchBars = evs.filter(_.event_type == tn).toDF()
          .groupBy(graft.ops.Core.bucket5m($"ts").as("bucket"))
          .agg(max($"value").as("high"), min($"value").as("low"),
            max_by($"value", $"event_id").as("close"), count(lit(1)).as("volume"),
            min_by($"value", $"event_id").as("open"))
        val ind = graft.ops.Indicators.withIndicators(batchBars)
        val tgt = graft.ops.Indicators.withTargets(batchBars)
          .filter($"p15_close".isNotNull)
          .select($"bucket", $"up1", $"up2", $"down1", $"down2")
        val extras = batchBars.select(Seq(col("bucket")) ++
          graft.ops.Indicators.candleCalendarBase ++
          graft.ops.Indicators.calendarOneHots: _*)
        val want = keyed(ind.join(tgt, "bucket").join(extras, "bucket")
          .filter($"stoch".isNotNull && $"price_change".isNotNull))
        assert(want.nonEmpty && got.keySet == want.keySet,
          s"type $tn: emitted ${got.size} rows, expected ${want.size}")
        want.foreach { case (bucket, w) =>
          assert(got(bucket) == w, s"type $tn bucket $bucket:\n got ${got(bucket)}\nwant $w")
        }
      }
      // and the two series genuinely differ (fixture non-vacuity) —
      // compared driver-side: a self-join of the memory-sink view
      // trips conflicting-reference resolution
      def closes(tn: String) = out.filter($"event_type" === tn)
        .select($"bucket".cast("string"), $"close")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val (aM, bM) = (closes("a"), closes("b"))
      val shared = aM.keySet.intersect(bM.keySet)
      assert(shared.nonEmpty && shared.forall(k => aM(k) != bM(k)),
        "fixture series must diverge bucket-by-bucket")
    } finally q.stop()
  }

  test("streaming W8 targets equal batch rows whose p15 lead exists") {
    implicit val sqlCtx = spark.sqlContext
    val (evs, batchBars) = gaplessBars60
    val src = MemoryStream[Ev]
    val q = StreamingPipeline.streamingTargets(src.toDF())
      .writeStream.format("memory").queryName("tgt_out")
      .outputMode("append").start()
    try {
      evs.grouped(50).foreach(src.addData(_))
      q.processAllAvailable()
      src.addData(Ev(999, t("2024-01-02 10:00:00"), "e", 1.0))
      q.processAllAvailable()
      val cols = Seq("p0_close", "p8_close", "p15_close", "atr",
        "up1", "up2", "down1", "down2")
      def keyed(df: org.apache.spark.sql.DataFrame) = df
        .select($"bucket".cast("string") +: cols.map(c => col(c).cast("string")): _*)
        .collect().map(r => r.getString(0) -> (1 until 9).map(r.getString)).toMap
      val got = keyed(spark.table("tgt_out"))
      // batch twin over the REAL series only (no flush bar): the stream
      // can only emit a bar once its 15-ahead close exists
      val want = keyed(graft.ops.Indicators.withTargets(batchBars)
        .filter($"p15_close".isNotNull))
      assert(want.size == 45 && got.keySet == want.keySet,
        s"stream must emit exactly the lead-complete bars (got ${got.size})")
      want.foreach { case (bucket, w) =>
        assert(got(bucket) == w, s"bucket $bucket: got ${got(bucket)}, want $w")
      }
    } finally q.stop()
  }

  test("streaming IVF probe against the persisted index equals the batch probe") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files.createTempDirectory("graft_sivf").toString + "/idx"
    val outDir = java.nio.file.Files.createTempDirectory("graft_sivf_o").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sivf_c").toString
    graft.ops.Similarity.writeIvfIndex(spark, sf0001, indexDir)
    // stream the SAME query rule the batch probe pins (vec_id % 50 = 0)
    // so the two outputs are comparable row-for-row
    val queries = graft.ops.Core.embeddings(spark, sf0001)
      .filter($"vec_id" % 50 === 0)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val src = MemoryStream[(Long, Seq[Float])]
    val q = graft.ops.Similarity.streamingIvfProbe(spark,
      src.toDF().toDF("vec_id", "embedding"), indexDir, outDir, ckpt)
    try {
      // two micro-batches: idempotent per-batch landing, then the union
      val (first, rest) = queries.splitAt(4)
      src.addData(first: _*)
      q.processAllAvailable()
      src.addData(rest: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).drop("batch_id")
    val expect = graft.ops.Similarity.probeIvfIndex(spark, indexDir)
    assert(got.count() == expect.count() && got.count() > 0)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "streaming probe must equal the batch probe row-for-row")
  }

  test("streaming IVF probe honours the index's takedowns like the batch probe") {
    // the stream must probe the LIVE view: a vector tombstoned with
    // writeIvfTombstones may not come back as a neighbour from the
    // stream while probeIvfIndex excludes it
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files.createTempDirectory("graft_sivft").toString + "/idx"
    val outDir = java.nio.file.Files.createTempDirectory("graft_sivft_o").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sivft_c").toString
    graft.ops.Similarity.writeIvfIndex(spark, sf0001, indexDir)
    val emb = graft.ops.Core.embeddings(spark, sf0001)
    val unfiltered = graft.ops.Similarity.probeIvfIndex(spark, indexDir)
    graft.ops.Similarity.writeIvfTombstones(spark,
      emb.filter($"vec_id" % 10 === 7).select("vec_id"), indexDir)
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val src = MemoryStream[(Long, Seq[Float])]
    val q = graft.ops.Similarity.streamingIvfProbe(spark,
      src.toDF().toDF("vec_id", "embedding"), indexDir, outDir, ckpt)
    try {
      val (first, rest) = queries.splitAt(4)
      src.addData(first: _*)
      q.processAllAvailable()
      src.addData(rest: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).drop("batch_id")
    val expect = graft.ops.Similarity.probeIvfIndex(spark, indexDir)
    assert(unfiltered.filter($"vec_id" % 10 === 7).count() > 0,
      "fixture vacuous: the takedown slice must hold some unfiltered neighbour")
    assert(got.filter($"vec_id" % 10 === 7).isEmpty, "a tombstoned vector came back from the stream")
    assert(got.count() == expect.count() && got.count() > 0)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "streaming probe must equal the batch probe over the live index")
  }

  test("streaming dedup probe equals the per-batch probe against the persisted index") {
    implicit val sqlCtx = spark.sqlContext
    val idxDir = java.nio.file.Files.createTempDirectory("graft_sdix").toString + "/idx"
    val outDir = java.nio.file.Files.createTempDirectory("graft_sdix_o").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sdix_c").toString
    graft.ops.TextDedup.writeDedupIndex(spark, sf0001, idxDir)
    // within-batch election is PER MICRO-BATCH by design (replay-safe),
    // so the duplicate pair rides in one batch and the comparison is
    // per-batch probe outputs unioned
    val known = graft.ops.Core.documents(spark, sf0001)
      .orderBy("doc_id").limit(3)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
      .as[(Long, String)].collect().toSeq
    val batch1 = known.take(2) ++ Seq(
      (200002L, "a duplicated new r7 stream doc"),
      (200003L, "a duplicated new r7 stream doc"))
    val batch2 = known.drop(2) ++ Seq((200001L, "a genuinely new r7 stream doc"))
    val src = MemoryStream[(Long, String)]
    val q = graft.ops.TextDedup.streamingDedupProbe(spark,
      src.toDF().toDF("doc_id", "text"), idxDir, outDir, ckpt)
    try {
      src.addData(batch1: _*)
      q.processAllAvailable()
      src.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).drop("batch_id")
    def probeOf(rows: Seq[(Long, String)]) =
      graft.ops.TextDedup.probeDedupIndex(spark, rows.toDF("doc_id", "text"), idxDir)
    val expect = probeOf(batch1).unionByName(probeOf(batch2))
    assert(got.count() == expect.count() && got.count() == 6)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "streaming dedup verdicts must equal the per-batch probe outputs")
    // the landing is idempotent per batch_id: no duplicated verdicts
    assert(got.select("doc_id").distinct().count() == 6)
  }

  test("republished dedup index serves the NEXT micro-batch without a stream restart") {
    // The operational guarantee behind the batch-index/stream-probe
    // split: the periodic batch job REPUBLISHES the index (full
    // rebuild or merge) while the probe stream keeps running, and the
    // very next micro-batch probes the new index — because
    // probeDedupIndex plans a fresh explicit-schema read of indexDir
    // inside every foreachBatch invocation. (Documented contrast:
    // streamingIvfProbe pins its CODEBOOK at stream start — centroids
    // are literal expressions — so an IVF retrain requires a stream
    // restart; the digest/simhash/vocab/drift probes do not.)
    implicit val sqlCtx = spark.sqlContext
    val idxDir = java.nio.file.Files.createTempDirectory("graft_repub").toString + "/idx"
    val outDir = java.nio.file.Files.createTempDirectory("graft_repub_o").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_repub_c").toString
    val v1 = Seq((1L, "alpha doc"), (2L, "beta doc")).toDF("doc_id", "text")
    graft.ops.TextDedup.writeDedupIndexFrom(v1, idxDir)
    val src = MemoryStream[(Long, String)]
    val q = graft.ops.TextDedup.streamingDedupProbe(spark,
      src.toDF().toDF("doc_id", "text"), idxDir, outDir, ckpt)
    try {
      src.addData((300001L, "gamma doc"))
      q.processAllAvailable()
      // the periodic batch job lands a new index version mid-stream
      graft.ops.TextDedup.writeDedupIndexFrom(
        v1.unionByName(Seq((3L, "gamma doc")).toDF("doc_id", "text")), idxDir)
      src.addData((300002L, "gamma doc"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir)
      .select($"doc_id", $"verdict", $"dup_of").as[(Long, String, Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(300001L) == (("new", None)),
      "before the republish the digest is unknown to the index")
    assert(got(300002L) == (("dup_of_corpus", Some(3L))),
      "the republished index must serve the next batch without restart")
  }

  test("streaming simhash probe equals the per-batch probe against the persisted index") {
    implicit val sqlCtx = spark.sqlContext
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ssix").toString + "/idx"
    val outDir = java.nio.file.Files.createTempDirectory("graft_ssix_o").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssix_c").toString
    graft.ops.TextDedup.writeSimhashIndex(spark, sf0001, idxDir)
    // two micro-batches: re-ingested corpus docs (hamming-0 hits) split
    // across batches, plus an alien doc that must land no match rows
    val known = graft.ops.Core.documents(spark, sf0001)
      .orderBy("doc_id").limit(4)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
      .as[(Long, String)].collect().toSeq
    val batch1 = known.take(2)
    val batch2 = known.drop(2) :+ ((200001L,
      "zq xv qj wk vx jz kq xw zv qx completely alien shingle stream"))
    val src = MemoryStream[(Long, String)]
    val q = graft.ops.TextDedup.streamingSimhashProbe(spark,
      src.toDF().toDF("doc_id", "text"), idxDir, outDir, ckpt)
    try {
      src.addData(batch1: _*)
      q.processAllAvailable()
      src.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).drop("batch_id")
    def probeOf(rows: Seq[(Long, String)]) =
      graft.ops.TextDedup.probeSimhashIndex(spark, rows.toDF("doc_id", "text"), idxDir)
    val expect = probeOf(batch1).unionByName(probeOf(batch2))
    assert(got.count() == expect.count() && got.count() > 0)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "streaming near-dup matches must equal the per-batch probe outputs")
    // every re-ingested doc finds its original at hamming 0; the alien none
    val zeroes = got.filter($"hamming" === 0)
      .select("probe_id", "match_id").as[(Long, Long)].collect().toSet
    assert(known.map(_._1).forall(k => zeroes.contains((k, k - 100000L))))
    assert(got.filter($"probe_id" === 200001L).isEmpty)
  }

  test("streaming cluster append equals the batch append against static artifacts") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sclu").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sclu_o").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sclu_c").toString
    val docs = graft.ops.Core.documents(spark, sf0001)
    graft.ops.TextDedup.writeClusterAppendArtifacts(spark,
      docs.filter($"doc_id" % 2 === 0), root)
    val odd = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    // two micro-batches: each clusters against the standing corpus and
    // itself (static-artifact contract, like the simhash probe)
    val (b1, b2) = odd.splitAt(odd.size / 2)
    val src = MemoryStream[(Long, String)]
    val q = graft.ops.TextDedup.streamingClusterAppend(spark,
      src.toDF().toDF("doc_id", "text"), root, outDir, ckpt)
    try {
      src.addData(b1: _*)
      q.processAllAvailable()
      src.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).drop("batch_id")
    def appendOf(rows: Seq[(Long, String)]) =
      graft.ops.Components.appendClusters(spark, graft.ops.TextDedup.clusterTerms,
        rows.toDF("doc_id", "text"), root)
    val expect = appendOf(b1).unionByName(appendOf(b2))
    assert(got.count() == expect.count() && got.count() > 0)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "streaming cluster tables must equal the per-batch append outputs")
    // the whole batch in ONE micro-batch reproduces the registered
    // oracle-gated query exactly (same artifacts, same probe core)
    val out2 = java.nio.file.Files.createTempDirectory("graft_sclu_o2").toString + "/out"
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_sclu_c2").toString
    val src2 = MemoryStream[(Long, String)]
    val q2 = graft.ops.TextDedup.streamingClusterAppend(spark,
      src2.toDF().toDF("doc_id", "text"), root, out2, ckpt2)
    try { src2.addData(odd: _*); q2.processAllAvailable() } finally q2.stop()
    val single = spark.read.parquet(out2).drop("batch_id")
    val registered = graft.ops.TextDedup.dedupClustersAppendProbe(spark, sf0001)
    assert(single.exceptAll(registered).isEmpty &&
      registered.exceptAll(single).isEmpty,
      "one-micro-batch stream must equal the registered append query")
  }

  test("cumulative streaming cluster append converges to the full-corpus rebuild") {
    // r14: the stateful form — each micro-batch clusters against the
    // standing corpus AND all earlier batches (band-table state + the
    // latest cluster table as star source), so the final emitted table
    // must FRAME-EQUAL the from-scratch rebuild over everything. A
    // known same-cluster odd pair is deliberately split across
    // micro-batches so the cross-batch merge path is exercised
    // non-vacuously (the static-artifacts form provably cannot join
    // them).
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_cclu").toString
    val state = java.nio.file.Files.createTempDirectory("graft_cclu_s").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_cclu_o").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cclu_c").toString
    val docs = graft.ops.Core.documents(spark, sf0001)
    graft.ops.TextDedup.writeClusterAppendArtifacts(spark,
      docs.filter($"doc_id" % 2 === 0), root)
    val full = graft.ops.TextDedup.dedupClustersDirect(spark, sf0001)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val oddPair = full.groupBy(_._2).values
      .find(_.count(_._1 % 2 == 1) >= 2)
    assert(oddPair.nonEmpty,
      "fixture has no cluster with two odd docs — cross-batch merge unexercisable")
    val b = oddPair.get.filter(_._1 % 2 == 1).map(_._1).max
    val a = oddPair.get.filter(m => m._1 % 2 == 1 && m._1 != b).map(_._1).head
    val odd = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val rest = odd.filterNot(_._1 == b)
    val (c1, c2) = rest.splitAt(rest.size / 2)
    val chunks = Seq(c1, c2, odd.filter(_._1 == b)) // b arrives LAST, alone
    val src = MemoryStream[(Long, String)]
    val q = graft.ops.TextDedup.streamingClusterAppendCumulative(spark,
      src.toDF().toDF("doc_id", "text"), root, state, outDir, ckpt)
    try chunks.foreach { ch => src.addData(ch: _*); q.processAllAvailable() }
    finally q.stop()
    // batch_id is a partition column — inference reads it back as
    // IntegerType, so cast before getLong (r15, VERDICT r14 #1)
    val lastId = spark.read.parquet(outDir)
      .agg(max($"batch_id".cast("long"))).first().getLong(0)
    val got = spark.read.parquet(outDir).filter($"batch_id".cast("long") === lastId)
      .drop("batch_id").as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(got == full, s"cumulative stream diverged from the rebuild " +
      s"(${got.size} vs ${full.size} rows)")
    // the split pair merged across micro-batches
    val label = got.map(r => r._1 -> r._2).toMap
    assert(label(a) == label(b),
      s"docs $a (early batch) and $b (final batch) must share a cluster")
  }

  test("cumulative append replay: same batch re-run rewrites only itself, stream still converges") {
    // pins the cumulative append's documented replay contract —
    // foreachBatch re-delivers a failed micro-batch with the SAME
    // batchId, so the function must (a) read exactly the state it read
    // the first time (the batch_id < N filter), (b) emit the identical
    // cluster table, (c) rewrite only its own state partitions, and
    // (d) leave the stream able to continue to the correct fixpoint.
    // Exercised at the function level (the streaming wrapper adds only
    // the sink, whose idempotency has its own spec).
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_rply").toString
    val state = java.nio.file.Files.createTempDirectory("graft_rply_s").toString
    val docs = graft.ops.Core.documents(spark, sf0001)
    graft.ops.TextDedup.writeClusterAppendArtifacts(spark,
      docs.filter($"doc_id" % 2 === 0), root)
    val odd = docs.filter($"doc_id" % 2 === 1)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    def stateBatches(sub: String): Seq[Long] =
      spark.read.parquet(s"$state/$sub")
        .select($"batch_id".cast("long")).distinct()
        .as[Long].collect().sorted.toSeq
    graft.ops.Components.appendClusters(
      spark, graft.ops.TextDedup.clusterTerms, odd.filter($"doc_id" % 6 === 1), root,
        Some(0L -> state))
    val out1 = snap(graft.ops.Components.appendClusters(
      spark, graft.ops.TextDedup.clusterTerms, odd.filter($"doc_id" % 6 === 3), root,
        Some(1L -> state)))
    val bands1 = spark.read.parquet(s"$state/bands")
      .filter($"batch_id".cast("long") === 0L)
      .select($"doc_id", $"band", $"bkey")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    // the failure replay: same batchId, same data
    val out1r = snap(graft.ops.Components.appendClusters(
      spark, graft.ops.TextDedup.clusterTerms, odd.filter($"doc_id" % 6 === 3), root,
        Some(1L -> state)))
    assert(out1r == out1, "replayed batch must emit the identical cluster table")
    assert(stateBatches("bands") == Seq(0L, 1L) && stateBatches("clusters") == Seq(0L, 1L),
      "replay must not add state partitions")
    assert(spark.read.parquet(s"$state/bands")
        .filter($"batch_id".cast("long") === 0L)
        .select($"doc_id", $"band", $"bkey")
        .as[(Long, Int, Long)].collect().sorted.toSeq == bands1,
      "replay must leave other batches' state untouched")
    // the stream continues past the replay to the full-corpus fixpoint
    val got = snap(graft.ops.Components.appendClusters(
      spark, graft.ops.TextDedup.clusterTerms, odd.filter($"doc_id" % 6 === 5), root,
        Some(2L -> state)))
    val full = snap(graft.ops.TextDedup.dedupClustersDirect(spark, sf0001))
    assert(got == full,
      s"stream after a mid-stream replay diverged from the rebuild (${got.size} vs ${full.size})")
  }

  test("cumulative state compaction: mid-stream fold, continuation equals the rebuild") {
    // r15 (VERDICT r14 #5): two micro-batches stream cumulatively,
    // the stream stops, compactClusterState folds state + standing
    // into a NEW root and truncates stateDir, and a FRESH stream
    // (new checkpoint, batch ids restarting at 0) against the new
    // root absorbs the final batch. A known same-cluster odd pair is
    // split ACROSS the compaction boundary, so the folded artifacts
    // must carry cross-boundary connectivity; the final table must
    // frame-equal the from-scratch rebuild over everything.
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_cpct").toString
    val root2 = java.nio.file.Files.createTempDirectory("graft_cpct2").toString + "/r2"
    val state = java.nio.file.Files.createTempDirectory("graft_cpct_s").toString
    val out1 = java.nio.file.Files.createTempDirectory("graft_cpct_o1").toString + "/out"
    val out2 = java.nio.file.Files.createTempDirectory("graft_cpct_o2").toString + "/out"
    val ckpt1 = java.nio.file.Files.createTempDirectory("graft_cpct_c1").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_cpct_c2").toString
    val docs = graft.ops.Core.documents(spark, sf0001)
    graft.ops.TextDedup.writeClusterAppendArtifacts(spark,
      docs.filter($"doc_id" % 2 === 0), root)
    val full = graft.ops.TextDedup.dedupClustersDirect(spark, sf0001)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val oddPair = full.groupBy(_._2).values
      .find(_.count(_._1 % 2 == 1) >= 2)
    assert(oddPair.nonEmpty, "fixture has no cluster with two odd docs")
    val b = oddPair.get.filter(_._1 % 2 == 1).map(_._1).max
    val a = oddPair.get.filter(m => m._1 % 2 == 1 && m._1 != b).map(_._1).head
    val odd = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val rest = odd.filterNot(_._1 == b)
    val (c1, c2) = rest.splitAt(rest.size / 2)
    // pre-compaction stream: batches 1 and 2
    val src1 = MemoryStream[(Long, String)]
    val q1 = graft.ops.TextDedup.streamingClusterAppendCumulative(spark,
      src1.toDF().toDF("doc_id", "text"), root, state, out1, ckpt1)
    try Seq(c1, c2).foreach { ch => src1.addData(ch: _*); q1.processAllAvailable() }
    finally q1.stop()
    val preLast = spark.read.parquet(out1)
      .agg(max($"batch_id".cast("long"))).first().getLong(0)
    val preClusters = spark.read.parquet(out1)
      .filter($"batch_id".cast("long") === preLast).drop("batch_id")
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    graft.ops.TextDedup.compactClusterState(spark, root, state, root2)
    assert(!graft.ops.Core.pathExists(spark, s"$state/bands") &&
      !graft.ops.Core.pathExists(spark, s"$state/clusters"),
      "compaction must truncate the state dir")
    assert(spark.read.parquet(s"$root2/clusters")
        .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq == preClusters,
      "new sidecar must BE the latest pre-compaction cumulative output")
    // post-compaction stream: fresh checkpoint, batch ids restart at 0,
    // truncated state — doc b (whose near-dup partner streamed before
    // the fold) arrives only now
    val src2 = MemoryStream[(Long, String)]
    val q2 = graft.ops.TextDedup.streamingClusterAppendCumulative(spark,
      src2.toDF().toDF("doc_id", "text"), root2, state, out2, ckpt2)
    try { src2.addData(odd.filter(_._1 == b): _*); q2.processAllAvailable() }
    finally q2.stop()
    val got = spark.read.parquet(out2).drop("batch_id")
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(got == full, s"post-compaction stream diverged from the rebuild " +
      s"(${got.size} vs ${full.size} rows)")
    val label = got.map(r => r._1 -> r._2).toMap
    assert(label(a) == label(b),
      s"docs $a (pre-fold) and $b (post-fold) must share a cluster")
  }

  test("cluster-free cumulative state still compacts (bands fold, clusters optional)") {
    // r15 review: a stream over batches that never form a single
    // cluster writes bands state every batch but NO clusters table
    // (empty frames skip the idempotent write) — compaction must fold
    // that state anyway, else it grows forever uncompactable.
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_nocl").toString
    val root2 = java.nio.file.Files.createTempDirectory("graft_nocl2").toString + "/r2"
    val state = java.nio.file.Files.createTempDirectory("graft_nocl_s").toString
    val out = java.nio.file.Files.createTempDirectory("graft_nocl_o").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nocl_c").toString
    val standing = Seq(
      (2L, "alpha beta gamma delta epsilon zeta"),
      (4L, "one two three four five six seven")).toDF("doc_id", "text")
    graft.ops.TextDedup.writeClusterAppendArtifacts(spark, standing, root)
    val src = MemoryStream[(Long, String)]
    val q = graft.ops.TextDedup.streamingClusterAppendCumulative(spark,
      src.toDF().toDF("doc_id", "text"), root, state, out, ckpt)
    try { src.addData((7L, "entirely different words appear here now")); q.processAllAvailable() }
    finally q.stop()
    assert(graft.ops.Core.tableExists(spark, s"$state/bands"),
      "fixture vacuous: the batch must land bands state")
    assert(!graft.ops.Core.tableExists(spark, s"$state/clusters"),
      "fixture vacuous: a cluster-free batch must NOT land a clusters table")
    graft.ops.TextDedup.compactClusterState(spark, root, state, root2)
    assert(!graft.ops.Core.pathExists(spark, s"$state/bands"),
      "compaction must truncate the folded bands state")
    assert(spark.read.parquet(s"$root2/bandidx").select("doc_id").distinct().count() == 3,
      "folded band index must carry standing + streamed docs")
  }

  test("state compaction refuses nested directories, not just aliases") {
    // r15 review: a newRoot nested inside the standing root plants
    // artifact subdirs INSIDE a live table dir mid-scan; a state dir
    // nested with the root lets the closing truncation eat standing
    // artifacts. Previously only pairwise equality was refused.
    val r = "/tmp/graft_nest_cs/root"
    def refuse(f: => Unit) = intercept[IllegalArgumentException](f)
    assert(refuse(graft.ops.TextDedup.compactClusterState(spark, r,
      "/tmp/graft_nest_cs/state", r + "/bandidx")).getMessage.contains("nests"))
    assert(refuse(graft.ops.TextDedup.compactClusterState(spark, r,
      r + "/state", "/tmp/graft_nest_cs/n")).getMessage.contains("nests"))
    assert(refuse(graft.ops.Similarity.compactEmbedClusterState(spark, r,
      "/tmp/graft_nest_cs/state", r + "/clusters")).getMessage.contains("nests"))
  }

  test("cumulative embed stream converges to the rebuild, compaction mid-stream holds") {
    // r15 (VERDICT r14 missing #4): the embedding twin of the
    // cumulative text stream — a known same-cluster odd VECTOR pair is
    // split across micro-batches (provably unjoinable by the
    // static-artifacts form), streamed cumulatively, then the state is
    // COMPACTED mid-stream and a fresh stream absorbs the final batch
    // against the folded artifacts; the final table must frame-equal
    // the from-scratch rebuild over everything.
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ecpct").toString
    val root2 = java.nio.file.Files.createTempDirectory("graft_ecpct2").toString + "/r2"
    val state = java.nio.file.Files.createTempDirectory("graft_ecpct_s").toString
    val out1 = java.nio.file.Files.createTempDirectory("graft_ecpct_o1").toString + "/out"
    val out2 = java.nio.file.Files.createTempDirectory("graft_ecpct_o2").toString + "/out"
    val ckpt1 = java.nio.file.Files.createTempDirectory("graft_ecpct_c1").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_ecpct_c2").toString
    val vecs = graft.ops.Core.embeddings(spark, sf0001)
    graft.ops.Similarity.writeEmbedClusterAppendArtifacts(spark,
      vecs.filter($"vec_id" % 2 === 0), root)
    val full = graft.ops.Components.clusterPairs(
      graft.ops.Similarity.cosineNearDupPairsDirect(spark, sf0001),
      "vec_a", "vec_b", "vec_id")
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val oddPair = full.groupBy(_._2).values
      .find(_.count(_._1 % 2 == 1) >= 2)
    assert(oddPair.nonEmpty,
      "fixture has no cluster with two odd vectors — cross-batch merge unexercisable")
    val b = oddPair.get.filter(_._1 % 2 == 1).map(_._1).max
    val a = oddPair.get.filter(m => m._1 % 2 == 1 && m._1 != b).map(_._1).head
    val odd = vecs.filter($"vec_id" % 2 === 1)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toSeq
    val rest = odd.filterNot(_._1 == b)
    val (c1, c2) = rest.splitAt(rest.size / 2)
    // pre-compaction: two cumulative batches (b's partner is in here)
    val src1 = MemoryStream[(Long, Seq[Float])]
    val q1 = graft.ops.Similarity.streamingEmbedClusterAppendCumulative(spark,
      src1.toDF().toDF("vec_id", "embedding"), root, state, out1, ckpt1)
    try Seq(c1, c2).foreach { ch => src1.addData(ch: _*); q1.processAllAvailable() }
    finally q1.stop()
    graft.ops.Similarity.compactEmbedClusterState(spark, root, state, root2)
    assert(!graft.ops.Core.pathExists(spark, s"$state/vecs"),
      "compaction must truncate the vector state")
    // post-compaction: b arrives alone against the folded artifacts
    val src2 = MemoryStream[(Long, Seq[Float])]
    val q2 = graft.ops.Similarity.streamingEmbedClusterAppendCumulative(spark,
      src2.toDF().toDF("vec_id", "embedding"), root2, state, out2, ckpt2)
    try { src2.addData(odd.filter(_._1 == b): _*); q2.processAllAvailable() }
    finally q2.stop()
    val got = spark.read.parquet(out2).drop("batch_id")
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(got == full, s"cumulative embed stream diverged from the rebuild " +
      s"(${got.size} vs ${full.size} rows)")
    val label = got.map(r => r._1 -> r._2).toMap
    assert(label(a) == label(b),
      s"vectors $a (pre-fold) and $b (post-fold) must share a cluster")
  }

  test("streaming embed cluster append equals the batch append against static artifacts") {
    // r14: the embedding twin of the streaming cluster append — same
    // static-artifacts contract, same idempotent batch_id landing.
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_seclu").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_seclu_o").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_seclu_c").toString
    val vecs = graft.ops.Core.embeddings(spark, sf0001)
    graft.ops.Similarity.writeEmbedClusterAppendArtifacts(spark,
      vecs.filter($"vec_id" % 2 === 0), root)
    val odd = vecs.filter($"vec_id" % 2 === 1)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toSeq
    val (b1, b2) = odd.splitAt(odd.size / 2)
    val src = MemoryStream[(Long, Seq[Float])]
    val q = graft.ops.Similarity.streamingEmbedClusterAppend(spark,
      src.toDF().toDF("vec_id", "embedding"), root, outDir, ckpt)
    try {
      src.addData(b1: _*)
      q.processAllAvailable()
      src.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).drop("batch_id")
    def appendOf(rows: Seq[(Long, Seq[Float])]) =
      graft.ops.Components.appendClusters(spark, graft.ops.Similarity.clusterTerms,
        rows.toDF("vec_id", "embedding"), root)
    val expect = appendOf(b1).unionByName(appendOf(b2))
    assert(got.count() == expect.count() && got.count() > 0)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "streaming embed cluster tables must equal the per-batch append outputs")
    // one micro-batch reproduces the registered oracle-gated query
    val out2 = java.nio.file.Files.createTempDirectory("graft_seclu_o2").toString + "/out"
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_seclu_c2").toString
    val src2 = MemoryStream[(Long, Seq[Float])]
    val q2 = graft.ops.Similarity.streamingEmbedClusterAppend(spark,
      src2.toDF().toDF("vec_id", "embedding"), root, out2, ckpt2)
    try { src2.addData(odd: _*); q2.processAllAvailable() } finally q2.stop()
    val single = spark.read.parquet(out2).drop("batch_id")
    val registered = graft.ops.Similarity.embedDedupClustersAppendProbe(spark, sf0001)
    assert(single.exceptAll(registered).isEmpty &&
      registered.exceptAll(single).isEmpty,
      "one-micro-batch stream must equal the registered embed append query")
  }

  test("streaming drift probe equals the per-batch probe against the persisted baseline") {
    implicit val sqlCtx = spark.sqlContext
    val baseDir = java.nio.file.Files.createTempDirectory("graft_sdrift").toString + "/base"
    val outDir = java.nio.file.Files.createTempDirectory("graft_sdrift_o").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sdrift_c").toString
    graft.ops.Mixture.writeDriftBaseline(spark, sf0001, baseDir)
    // batch 1: an in-distribution sample; batch 2: the same plus an
    // alien source (new lang, new length bucket) that must rank first
    val sample = graft.ops.Core.documents(spark, sf0001)
      .orderBy("doc_id").limit(20)
      .select(lit("ingestA").as("source"), $"lang", $"n_chars")
      .as[(String, String, Long)].collect().toSeq
    val alien = (0 until 10).map(i => ("ingestB", "zz", 5000L + i))
    val src = MemoryStream[(String, String, Long)]
    val q = graft.ops.Mixture.streamingDriftProbe(spark,
      src.toDF().toDF("source", "lang", "n_chars"), baseDir, outDir, ckpt)
    try {
      src.addData(sample: _*)
      q.processAllAvailable()
      src.addData(alien: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir)
    // idempotent landing: one row per (batch, source)
    assert(got.count() == 2)
    assert(got.select("batch_id").distinct().count() == 2)
    // equals the batch probe, batch by batch
    def probeOf(rows: Seq[(String, String, Long)]) =
      graft.ops.Mixture.probeDriftBaseline(spark,
        rows.toDF("source", "lang", "n_chars"), baseDir)
    val expect = probeOf(sample).unionByName(probeOf(alien))
    val gotRows = got.drop("batch_id")
    assert(gotRows.exceptAll(expect).isEmpty && expect.exceptAll(gotRows).isEmpty,
      "streaming drift rows must equal the per-batch probe outputs")
    // the fully-alien source sits at exactly TVD 1 on both axes
    val b = got.filter($"source" === "ingestB")
      .select("tvd_chars", "tvd_lang").as[(Double, Double)].head()
    assert(b == ((1.0, 1.0)), s"alien source must hit TVD 1, got $b")
  }
}
