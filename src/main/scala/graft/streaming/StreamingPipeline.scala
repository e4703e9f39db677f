package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Per-key running state carried across micro-batches (the custom
  * stateful-operator surface: KeyValueGroupedDataset.mapGroupsWithState). */
case class RunningAgg(key: String, n: Long, sum: Double, maxValue: Double)

/** Output row of [[StreamingPipeline.streamingSeqPacking]] — the
  * training-sequence coordinates of one packed document (same columns
  * as the batch `seq_packing` query). */
case class PackedDoc(doc_id: Long, shard: Long, n_tokens: Int,
  seq_first: Long, seq_last: Long, seq_offset: Long)

/** transformWithState processor for [[StreamingPipeline.runningStatsTWS]]:
  * one named ValueState variable per key, no TTL, no timers. */
class RunningStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Double), RunningAgg] {
  @transient private var state: org.apache.spark.sql.streaming.ValueState[RunningAgg] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    state = getHandle.getValueState[RunningAgg]("agg",
      org.apache.spark.sql.Encoders.product[RunningAgg],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[(String, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[RunningAgg] = {
    val prev = if (state.exists()) state.get()
      else RunningAgg(key, 0L, 0.0, Double.MinValue)
    var n = prev.n
    var s = prev.sum
    var mx = prev.maxValue
    rows.foreach { r =>
      n += 1; s += r._2; if (r._2 > mx) mx = r._2
    }
    val next = RunningAgg(key, n, s, mx)
    state.update(next)
    Iterator.single(next)
  }
}

/** The reference's streaming layer (SURVEY.md §2.9) rebuilt on Spark 4
  * Structured Streaming. Works on any streaming DataFrame with
  * (event_id long, ts timestamp, event_type string, value double) —
  * in tests a MemoryStream, in production a Kafka source with the
  * same downstream plan (S1: the source swap is one `readStream`
  * line; the plan below is source-agnostic).
  *
  * What the reference could NOT do on Spark 2.4.4 and we can:
  * chained stateful operators in append mode (Spark >= 3.4) — the
  * rolling aggregations it pushed out to MariaDB views run in-stream
  * here (`streamingBars`), and dedup state is watermark-bounded
  * (`dropDuplicatesWithinWatermark`) instead of unbounded.
  */
object StreamingPipeline {

  /** P5 — 5-min floor bucket (streaming-safe expression). */
  def bucket5m(ts: Column): Column =
    timestamp_micros((floor(unix_micros(ts) / lit(3.0e8)) * lit(3.0e8)).cast("long"))

  /** P1-P7 shape on a raw JSON stream: decode with explicit schema,
    * flatten, parse timestamp, bucket, fill — the per-topic pipeline
    * of spark_consumer.py:102-111 (any of the 5 sources). */
  def decodeJsonStream(raw: DataFrame, schemaDdl: String): DataFrame =
    raw.selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"), org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)).as("m"))
      .select(col("m.*"))
      .withColumn("ts", to_timestamp(col("Timestamp"), "yyyy-MM-dd HH:mm:ss"))
      .drop("Timestamp")
      .withColumn("bucket", bucket5m(col("ts")))

  /** J1 — watermarked interval join: equal 5-min bucket AND
    * right.ts in [left.ts, left.ts + 3 min], both sides watermarked
    * 5 min (spark_consumer.py:434-477). The bucket equi-key bounds the
    * symmetric-hash state and makes the join hash-partitionable. */
  def intervalJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.withColumn("bucket", bucket5m(col("ts")))
      .withColumnRenamed("ts", "l_ts").withWatermark("l_ts", "5 minutes")
    val r = right.withColumn("bucket", bucket5m(col("ts")))
      .withColumnRenamed("ts", "r_ts").withWatermark("r_ts", "5 minutes")
    l.join(r,
      l("bucket") === r("bucket") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 3 MINUTES"),
      "inner")
  }

  /** A5 unlocked — the streaming windowed aggregation the reference
    * had to abandon (spark_consumer.py:116-149, README:137-141):
    * tumbling 5-min OHLCV-style bars with watermark-gated append
    * emission. Chained stateful ops are legal in Spark >= 3.4, so
    * downstream joins/aggs can consume this directly. */
  def streamingBars(events: DataFrame): DataFrame =
    events.withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        // tie-break on event_id (not ts): two events sharing a timestamp
        // would make a ts-keyed pick nondeterministic across runs; the
        // batch bars (Indicators.bars) pick close by event_id, so the
        // streaming form matches them exactly
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("volume"))
      .select(col("w.start").as("bucket"), col("high"), col("low"), col("close"), col("volume"))

  /** O1 streaming — watermark-bounded dedup
    * (dropDuplicatesWithinWatermark, Spark >= 3.5): replaces the
    * reference's unbounded-state dropDuplicates. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", "5 minutes")
      .dropDuplicatesWithinWatermark(keys)

  /** The reference's whole consumer DAG (spark_consumer.py:434-488):
    * the DEEP book stream inner-joined with each auxiliary stream
    * (VIX / volume / COT / indicators) on equal 5-min bucket AND
    * aux_ts in [deep_ts, deep_ts + 3 min], all sides watermarked
    * 5 min, then full-row dedup. `deep` must carry a `ts` column;
    * each aux (name, df) must carry `ts` plus its payload columns
    * (pre-renamed to be disjoint). Returns the wide joined frame with
    * deep's columns plus each aux's payload and `<name>_ts`. */
  def referenceDag(deep: DataFrame, auxes: Seq[(String, DataFrame)]): DataFrame =
    referenceDag(deep, auxes, Nil)

  /** As [[referenceDag]], deduplicating on `dedupKeys` instead of the
    * full row when non-empty. Full-row dedup stores and hashes every
    * joined WIDE row in the dedup state store — a structural profile
    * of the DAG (r12) measured it at ~32% of the whole DAG's cost
    * (aux4 12.76 s with vs 8.66 s without, 20k events) — while a key
    * subset that identifies the message (the deep event id plus each
    * aux's timestamp: every other column is functionally dependent on
    * those under deterministic sources, so at-least-once replay
    * duplicates — the thing this stage exists to drop — always
    * collide on them) keeps only the keys in state. Semantics differ
    * from full-row dedup ONLY if two joined rows agree on all keys but
    * differ in a payload column, which deterministic replay cannot
    * produce. */
  def referenceDag(deep: DataFrame, auxes: Seq[(String, DataFrame)],
      dedupKeys: Seq[String]): DataFrame = {
    // the caller starts the query next, and Spark fixes its checkpoint
    // and state-store file manager at start
    graft.ops.LocalFs.bind(deep.sparkSession)
    val deepW = deep.withColumn("bucket", bucket5m(col("ts")))
      .withWatermark("ts", "5 minutes")
    val joined = auxes.foldLeft(deepW) { case (acc, (name, aux)) =>
      val a = aux
        .withColumnRenamed("ts", s"${name}_ts")
        .withColumn(s"${name}_bucket", bucket5m(col(s"${name}_ts")))
        .withWatermark(s"${name}_ts", "5 minutes")
      val step = acc.join(a,
        col("bucket") === col(s"${name}_bucket") &&
          col(s"${name}_ts") >= col("ts") &&
          col(s"${name}_ts") <= col("ts") + expr("INTERVAL 3 MINUTES"),
        "inner").drop(s"${name}_bucket")
      // keep the aux timestamp VALUE but clear its event-time tag:
      // chained stateful operators require one event-time column per
      // stream (deep's ts stays the watermark carrier)
      step.select(step.columns.map {
        case c if c == s"${name}_ts" =>
          col(c).as(c, org.apache.spark.sql.types.Metadata.empty)
        case c => col(c)
      }: _*)
    }
    if (dedupKeys.isEmpty) joined.dropDuplicatesWithinWatermark()
    else joined.dropDuplicatesWithinWatermark(dedupKeys)
  }

  /** Throughput twin of [[referenceDag]]: same wide output, 2 stateful
    * operators instead of 9.
    *
    * Shape: the aux streams are UNION'd into one tagged stream
    * (aux_name, aux_ts, aux_v), joined ONCE against deep on the same
    * (equal 5-min bucket, aux_ts in [ts, ts+3 min]) predicate, and the
    * per-aux columns are recovered by a windowed PIVOT aggregation
    * (max-when per aux name) keyed by the deep row; rows missing any
    * aux are dropped (the inner-join semantics). The reference chain
    * re-stores the progressively WIDENING deep row in each of 4 join
    * state stores and then hashes the full wide row again in the dedup
    * store; this shape stores the narrow deep row once, the tagged aux
    * rows once, and one pivot row per matched deep event. The dedup
    * stage disappears entirely: at-least-once replay duplicates land
    * in the SAME pivot group and the max-when collapses them, which is
    * exactly the idempotence full-row dedup bought. Structural DAG
    * profile (20k deep events, one data batch, cold JVM, quiet box):
    * chain 12.8 s / pivot 3.6 s — 3.5x. Semantics match [[referenceDag]]
    * exactly when each deep event matches <= 1 row per aux stream (the
    * reference cadence: one polled aux value per 5-min bucket); with
    * MULTIPLE matches in one stream the chain emits their cartesian
    * product while the pivot keeps ONE SOURCE ROW per aux — the row
    * with the max aux_ts, ties broken by max payload, selected as a
    * single max over struct(aux_ts, aux_v) so the emitted (ts, value)
    * pair always comes from one input row (r13, ADVICE r12: maxing the
    * two columns independently could emit a timestamp from one row
    * paired with a payload from another — a row no input produced).
    * Prefer the chain only if the cartesian fan-out is load-bearing.
    * Aux payloads must be single-column; payload types are cast to
    * double INTERNALLY for the tagged union (the reference's aux feeds
    * are all numeric) and cast back to their source types in the
    * output, which reproduces the chain's wide schema exactly — same
    * per-aux column order (<name>_ts, <payload>), same types. A
    * matched aux row with a NULL payload value keeps the deep row: the
    * match witness is the picked STRUCT's non-nullness (a matched row
    * always yields a non-null struct even when every field in it is
    * null), never the pivoted payload value.
    * Latency tradeoff: the chain EMITS each wide row as its last join
    * match forms, while the pivot holds a row until the GLOBAL
    * watermark (min across all five streams) passes its 5-min window —
    * an idle aux stream therefore delays emission indefinitely
    * (append-mode aggregation semantics). Right for steady feeds and
    * backfills; prefer the chain when per-row emission latency under
    * sparse/stalled aux feeds matters more than throughput.
    * StreamingSpec pins pivot == chain on the unit fixture.
    * A streaming `deep` binds [[graft.ops.LocalFs]] as
    * [[referenceDag]] does, for callers that stream the pivot (the
    * repo's own workloads stream only the chain); a batch caller such
    * as [[graft.ops.Joins.intervalJoinPivot]] writes no checkpoint and
    * leaves the context's binding alone. */
  def referenceDagPivot(deep: DataFrame, auxes: Seq[(String, DataFrame)]): DataFrame = {
    if (deep.isStreaming) graft.ops.LocalFs.bind(deep.sparkSession)
    // zero aux streams: the chain degrades to watermark + dedup of the
    // deep frame; the pivot must be a drop-in twin on that degenerate
    // input too (its tagged union and pivot agg need >= 1 stream)
    if (auxes.isEmpty) return referenceDag(deep, auxes)
    val payloads = auxes.map { case (name, aux) =>
      val ps = aux.columns.filterNot(_ == "ts")
      require(ps.length == 1,
        s"referenceDagPivot: aux '$name' must carry exactly one payload column, got ${ps.toSeq}")
      // original payload type, restored after the pivot: the tagged
      // union coerces payloads to double so heterogeneous aux streams
      // share one column, but the OUTPUT contract is the chain's
      (name, ps.head, aux.schema(ps.head).dataType)
    }
    val tagged = auxes.map { case (name, aux) =>
      val payload = payloads.find(_._1 == name).get._2
      aux.select(lit(name).as("aux_name"), col("ts").as("aux_ts"),
        col(payload).cast("double").as("aux_v"))
    }.reduce(_.unionByName(_))
      .withColumn("aux_bucket", bucket5m(col("aux_ts")))
      .withWatermark("aux_ts", "5 minutes")
    val deepCols = deep.columns.toSeq
    val deepW = deep.withColumn("bucket", bucket5m(col("ts")))
      .withWatermark("ts", "5 minutes")
    val joined = deepW.join(tagged,
      col("bucket") === col("aux_bucket") &&
        col("aux_ts") >= col("ts") &&
        col("aux_ts") <= col("ts") + expr("INTERVAL 3 MINUTES"),
      "inner").drop("aux_bucket")
    // one event-time column per stream through the next stateful op:
    // deep's ts stays the watermark carrier, aux_ts becomes a value
    val cleared = joined.select(joined.columns.map {
      case "aux_ts" => col("aux_ts").as("aux_ts", org.apache.spark.sql.types.Metadata.empty)
      case c => col(c)
    }: _*)
    // window(ts) gives the pivot state watermark-based eviction; the
    // window itself is dropped after the agg (ts is in the group key).
    // The window column must be the ONLY event-time-tagged column in
    // the group keys, so ts's tag is cleared AFTER the window is
    // computed from it (a stateful op rejects two tagged columns).
    val withW = cleared.withColumn("w", window(col("ts"), "5 minutes"))
    val wCleared = withW.select(withW.columns.map {
      case "ts" => col("ts").as("ts", org.apache.spark.sql.types.Metadata.empty)
      case c => col(c)
    }: _*)
    val groupKeys = ("w" +: deepCols :+ "bucket").map(col)
    // ONE max over struct(aux_ts, aux_v) per aux — struct comparison is
    // lexicographic, so the pick is the row with the max aux_ts (ties:
    // max payload) and the emitted (ts, value) pair provably comes from
    // one source row. The struct doubles as the inner-join MATCH
    // witness: when() yields a null struct only for non-matching rows,
    // while a matched row yields a non-null struct even when its
    // payload value is null (the chain's join predicate never touches
    // the payload, so a null-payload match must keep the deep row).
    val pivotAggs = payloads.map { case (name, _, _) =>
      max(when(col("aux_name") === name,
        struct(col("aux_ts").as("ts"), col("aux_v").as("v")))).as(s"_pick_$name")
    }
    wCleared.groupBy(groupKeys: _*)
      .agg(pivotAggs.head, pivotAggs.tail: _*)
      .filter(payloads.map { case (n, _, _) => col(s"_pick_$n").isNotNull }
        .reduce(_ && _))
      // the chain's exact wide schema: per-aux columns land as
      // (<name>_ts, <payload>) — the renamed aux frame's own order —
      // and each payload is cast back from the union's double to its
      // source type
      .select((deepCols :+ "bucket").map(col) ++
        payloads.flatMap { case (n, p, dt) =>
          Seq(col(s"_pick_$n").getField("ts").as(s"${n}_ts"),
            col(s"_pick_$n").getField("v").cast(dt).as(p)) }: _*)
  }

  /** Throughput-regime configuration for [[referenceDag]] (and any
    * deep stateful DAG built from this layer).
    *
    * Every micro-batch cycle pays a FIXED cost: incremental planning,
    * one state-store commit per partition per stateful operator, and
    * the offset and commit log entries. A NO-DATA micro-batch follows
    * every data batch to advance the watermark and flush closed
    * windows, and repeats the commit half of that cost. On top of it
    * sits a per-event floor that the 4 widening joins plus the
    * full-row dedup dominate: a DAG-SHAPE cost, which
    * [[referenceDagPivot]] removes. Each commit writes its files
    * through [[graft.ops.LocalFs]] (bound by [[referenceDag]]), so it
    * forks no process; perfbench's traced
    * `StreamingPipeline.referenceDag.state_commit_ms_p50` reads the
    * commit's share per batch. Levers, in order:
    *
    *  0. DAG SHAPE — [[referenceDagPivot]] whenever per-stream
    *     cartesian fan-out is not load-bearing (see its scaladoc).
    *  1. Batch SIZE — run with a processing-time trigger sized so each
    *     micro-batch carries seconds-to-minutes of events
    *     (`.trigger(Trigger.ProcessingTime("30 seconds"))` or
    *     larger): the fixed cost amortizes linearly over the batch.
    *     Tradeoff: end-to-end latency rises with the interval.
    *  2. Flush cadence — this conf map disables no-data micro-batches,
    *     removing the flush cycle and its commits after every data
    *     batch. Tradeoff: a window whose watermark passes between
    *     arrivals is emitted with the NEXT data batch rather than
    *     immediately, so tail output latency of closed windows becomes
    *     data-arrival-bound — right for throughput-oriented backfills
    *     and steady high-rate feeds, wrong for sparse feeds needing
    *     prompt window closure.
    *
    * Apply via `confs.foreach { case (k, v) => spark.conf.set(k, v) }`
    * before `.start()` (the setting is read at query start). Measured
    * in-Bench (same JVM, same DAG, sf-independent MemoryStream feed):
    * see Bench's `dag_tuned_events_per_sec` vs `dag_events_per_sec`. */
  val dagThroughputConf: Map[String, String] = Map(
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"
  )

  /** Chained stateful operators — the Spark >= 3.4 unlock the whole
    * redesign hinges on (README: "the streaming limitation
    * disappears"): a second windowed aggregation over the streaming
    * bars (10-min rollup of 5-min bars). On 2.4.4 this threw
    * "Multiple streaming aggregations are not supported". */
  def streamingBarsRollup(events: DataFrame): DataFrame = {
    val bars = events.withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(max(col("value")).as("high"), min(col("value")).as("low"),
        count(lit(1)).as("volume"))
    // window-over-window (Spark >= 3.4): group the 5-min window struct
    // into its enclosing 10-min window; the watermark propagates
    // through the first aggregation, no re-watermarking.
    bars.groupBy(window(col("w"), "10 minutes").as("w10"))
      .agg(max(col("high")).as("high"), min(col("low")).as("low"),
        sum(col("volume")).as("volume"))
      .select(col("w10.start").as("bucket10"), col("high"), col("low"), col("volume"))
  }

  /** The STREAMING indicator layer (W1/W2, create_database.py:76-103)
    * — the README's headline unlock made concrete: the rolling 6-bar
    * price/volume moving averages the reference computed in MariaDB
    * views run in-stream as a SECOND windowed aggregation over the
    * streaming bars. Row-frame windows (ROWS BETWEEN 5 PRECEDING)
    * don't exist on streams, but on a gapless 5-minute bar series the
    * 6-bar trailing frame IS the 30-minute sliding time window ending
    * at the bar: window(window_time(w), "30 minutes", "5 minutes")
    * puts bar B in exactly the windows [B-25m, B+5m) ... [B, B+30m),
    * and the one that ENDS at B+5m is B's trailing frame. Emission is
    * watermark-gated append; equality with the batch
    * Indicators.withIndicators frame on the same data is asserted in
    * StreamingSpec. Numeric treatment mirrors batch exactly: volume
    * sums are long (exact), price sums go through DECIMAL(18,2). */
  def streamingIndicators(events: DataFrame): DataFrame =
    barsMovingAvg(barsKeepWindow(events.withWatermark("ts", "5 minutes")))

  /** Third stateful depth: watermark-bounded dedup -> windowed bars ->
    * sliding MA, all chained in one append-mode stream (Spark >= 3.4;
    * each op on 2.4.4 would have thrown past the first). */
  def streamingIndicatorDag(events: DataFrame): DataFrame =
    barsMovingAvg(barsKeepWindow(
      events.withWatermark("ts", "5 minutes")
        .dropDuplicatesWithinWatermark(Seq("event_id"))))

  /** [[streamingBars]] keeping the window struct (the event-time
    * carrier a downstream windowed agg chains on). */
  private def barsKeepWindow(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("volume"))

  private def barsMovingAvg(bars: DataFrame): DataFrame =
    bars
      .groupBy(window(window_time(col("w")), "30 minutes", "5 minutes").as("wma"))
      .agg(
        (sum(col("volume")).cast("double") / count(lit(1)).cast("double")).as("vol_ma6"),
        (sum(col("close").cast("decimal(18,2)")).cast("double") /
          count(lit(1)).cast("double")).as("price_ma6"),
        count(lit(1)).as("n_bars"),
        max(col("w.start")).as("last_bar"))
      // the window ending at B+5m is bar B's trailing 6-bar frame; a
      // sliding window whose last contained bar is NOT its end bar is a
      // trailing artifact (it "ends" at a bucket with no bar — the
      // batch row frame has no such row), so it is filtered out
      // post-agg (stateless, append-safe)
      .filter(col("last_bar") === col("wma.end") - expr("INTERVAL 5 MINUTES"))
      .select(col("last_bar").as("bucket"),
        col("price_ma6"), col("vol_ma6"), col("n_bars"))

  /** The FULL streaming indicator stack (W1-W7) — Bollinger(20,2),
    * stochastic(15-row), ATR(15-row) and the moving averages, matching
    * batch [[graft.ops.Indicators.withIndicators]] column-for-column
    * and bit-for-bit (asserted in StreamingSpec). This closes the
    * round-4 gap: the headline "fold the MariaDB views back into the
    * stream" claim now covers every indicator view
    * (create_database.py:120-164), not just the MAs.
    *
    * How: [[streamingIndicators]]' sliding-window trick, widened to
    * the LONGEST frame. On a gapless 5-minute bar series the 20-bar
    * trailing row frame IS the 100-minute sliding time window ending
    * at the bar, so ONE second stateful agg per 100-min window carries
    * a collect_list of the (bucket, high, low, close, volume) structs
    * inside it; the window that ENDS at bar B+5m holds exactly B's
    * trailing 20 bars. Every sub-frame indicator then derives
    * STATELESSLY post-agg from the sorted array — the 6-bar MA from
    * the last 6 elements, stoch/ATR from the last 15, Bollinger from
    * all 20, lag(1) from the last two — instead of chaining three
    * differently-sized windowed aggs and two stream-stream joins to
    * re-align them. Numeric treatment is the batch decimal discipline
    * run inside array-aggregate lambdas: price sums accumulate in
    * DECIMAL (exact, so HOF fold order vs window-frame order cannot
    * matter), doubles derive from the exact sums with the identical
    * IEEE expression trees.
    *
    * Scale shape: bars are one row per (symbol, 5 min), so the second
    * agg's state is ~20 in-flight windows x 20 refs per symbol —
    * kilobytes; the shuffle keys on the window, giving the same
    * hash-partitioned parallelism as the bars agg. Emission is
    * watermark-gated append, exactly one row per closed bar. */
  def streamingIndicatorsFull(events: DataFrame): DataFrame =
    withAnchoredIndicators(
      slidingBarWindows(events, "100 minutes", withOpen = false),
      size(col("bs")))
      .select(Seq(col("anchor_bar.bucket").as("bucket")) ++ anchoredIndicatorCols: _*)

  // exact decimal folds; accumulator precision 38 so 20 adds can't
  // round — exactness is what transfers batch window-sum equality
  // to an array fold with a different association order
  private def foldDec(arr: String, item: String, scale: Int): String =
    s"CAST(aggregate($arr, CAST(0 AS DECIMAL(38,$scale)), " +
      s"(acc, x) -> CAST(acc + $item AS DECIMAL(38,$scale))) AS DOUBLE)"

  /** frame slice [max(1, bi-k+1) .. bi]: the k-row trailing row frame
    * anchored at 1-based index `bi`, clipped at the series start
    * exactly like batch's (k-1) PRECEDING. Length is computed (not k)
    * because elements AFTER the anchor may exist in the window, and
    * clamped at 0 because Catalyst may inline these expressions into a
    * MERGED filter and evaluate them BEFORE the size guard (observed:
    * the stoch null-filter collapsed with size >= 16 and ran first) —
    * every anchored expression must be total, not guard-dependent. */
  private def frameAt(k: Int): String =
    s"slice(bs, greatest(bi - ${k - 1}, 1), " +
      s"greatest(bi - greatest(bi - ${k - 1}, 1) + 1, 0))"

  /** Bars re-aggregated under a sliding window of `width`, keeping the
    * sorted per-bar struct array `bs` and the trailing-frame filter —
    * the shared first two stateful ops of the full-stack streaming
    * queries. */
  private def slidingBarWindows(events: DataFrame, width: String,
      withOpen: Boolean, seriesKey: Option[String] = None): DataFrame = {
    // seriesKey = the per-symbol form (r16): both stateful aggs group
    // by (key, window), so every series keeps its own bar state and
    // trailing frames — state volume scales with symbols x in-flight
    // windows, and the shuffle keys on (key, window). None keeps the
    // exact single-series plan the global twins were recorded on.
    val keyCols = seriesKey.toSeq.map(col)
    val aggs = Seq(
      max(col("value")).as("high"),
      min(col("value")).as("low"),
      max_by(col("value"), col("event_id")).as("close"),
      count(lit(1)).as("volume")) ++
      (if (withOpen) Seq(min_by(col("value"), col("event_id")).as("open")) else Nil)
    val bars = events.withWatermark("ts", "5 minutes")
      .groupBy(keyCols :+ window(col("ts"), "5 minutes").as("w"): _*)
      .agg(aggs.head, aggs.tail: _*)
    val fields = Seq(col("w.start").as("bucket"), col("high"), col("low"),
      col("close"), col("volume")) ++
      (if (withOpen) Seq(col("open")) else Nil)
    bars
      .groupBy(keyCols :+ window(window_time(col("w")), width, "5 minutes").as("wi"): _*)
      .agg(collect_list(struct(fields: _*)).as("bs0"),
        max(col("w.start")).as("last_bar"))
      // only the window ENDING at its own last bar is a trailing frame
      // (same append-safe post-agg filter as the 30-min MA layer)
      .filter(col("last_bar") === col("wi.end") - expr("INTERVAL 5 MINUTES"))
      // array<struct> sorts by leading field = bucket: frame order
      .withColumn("bs", sort_array(col("bs0")))
  }

  /** Adds the W1-W7 indicator columns anchored at 1-based index `bi`
    * of the sorted bar array `bs` (bi = size(bs) for the
    * emit-every-bar stack; bi = size(bs) - 15 for the feature matrix,
    * whose anchor must leave 15 lead bars). `anchor_bar` is the anchor row. */
  private def withAnchoredIndicators(df: DataFrame, bi: Column): DataFrame = {
    val dec = (e: String) => s"CAST($e AS DECIMAL(18,2))"
    df.withColumn("bi", bi)
      // greatest(bi, 1): total under predicate reordering (see frameAt)
      .withColumn("anchor_bar", element_at(col("bs"), greatest(col("bi"), lit(1))))
      .withColumn("f20", expr(frameAt(20)))
      .withColumn("f15", expr(frameAt(15)))
      .withColumn("f6", expr(frameAt(6)))
      .withColumn("s1d", expr(foldDec("f20", dec("x.close"), 2)))
      .withColumn("s2d", expr(foldDec("f20", s"${dec("x.close")} * ${dec("x.close")}", 4)))
      .withColumn("c20", size(col("f20")).cast("double"))
      .withColumn("avg20", col("s1d") / col("c20"))
      .withColumn("std20", sqrt(greatest(
        (col("s2d") - col("s1d") * col("s1d") / col("c20")) / col("c20"), lit(0.0))))
      .withColumn("min15", expr("array_min(transform(f15, x -> x.close))"))
      .withColumn("max15", expr("array_max(transform(f15, x -> x.close))"))
  }

  /** The indicator output columns over an anchored frame — identical
    * expression trees to batch Indicators.withIndicators. */
  private def anchoredIndicatorCols: Seq[Column] = Seq(
    col("anchor_bar.close").as("close"),
    col("anchor_bar.volume").as("volume"),
    (expr("CAST(aggregate(f6, 0L, (acc, x) -> acc + x.volume) AS DOUBLE)") /
      expr("CAST(size(f6) AS DOUBLE)")).as("vol_ma6"),
    (expr("CAST(aggregate(f20, 0L, (acc, x) -> acc + x.volume) AS DOUBLE)") /
      col("c20")).as("vol_ma20"),
    (col("s1d") / col("c20")).as("price_ma20"),
    ((col("avg20") + lit(2.0) * col("std20")) - col("anchor_bar.close")).as("upper_bb_dist"),
    (col("anchor_bar.close") - (col("avg20") - lit(2.0) * col("std20"))).as("lower_bb_dist"),
    when(col("max15") === col("min15"), lit(null).cast("double"))
      .otherwise((col("anchor_bar.close") - col("min15")) /
        (col("max15") - col("min15"))).as("stoch"),
    when(col("bi") >= 2,
      col("anchor_bar.close") - element_at(col("bs"), col("bi") - 1).getField("close"))
      .as("price_change"),
    (expr(foldDec("f15", "CAST(x.high - x.low AS DECIMAL(18,6))", 6)) /
      expr("CAST(size(f15) AS DOUBLE)")).as("atr"))

  /** The reference's ENTIRE training pipeline as one streaming query:
    * the headline artifact (create_database.py:240-258's 7-way view
    * join -> batch [[graft.ops.Indicators.featureMatrix]]) emitted
    * in-stream — indicators (W1-W7), candle features (F1), calendar
    * one-hots (F9-F13) and the forward-looking targets (W8), per
    * closed bar, in append mode. Composes [[streamingIndicatorsFull]]
    * and [[streamingTargets]]' tricks at their union width: a 175-min
    * (35-bar) trailing window ending at bar C contains, for the
    * anchor B = C-15: B's full 20-bar indicator frame (C-34..C-15),
    * B's candle/calendar inputs, and both lead closes (B+8, B+15=C).
    * The candle/calendar formulas are the SAME Column expressions as
    * batch (Indicators.candleCalendarBase/calendarOneHots), so the
    * two cannot drift; equality against the joined batch pieces is
    * asserted in StreamingSpec. Emission lag = 15 bars + watermark
    * (information-theoretic, see [[streamingTargets]]); the book-
    * feature block (F2-F8) is map-side per-event work upstream of the
    * bar aggregation and is carried by the batch form only — the
    * OHLCV surface here is what the events stream carries. Warmup
    * rows (null stoch/price_change) are filtered exactly like batch's
    * na.drop. */
  def streamingFeatureMatrix(events: DataFrame): DataFrame =
    streamingFeatureMatrixOver(events, seriesKey = None)

  /** The per-SERIES streaming training matrix (r16) — the streaming
    * twin of [[graft.ops.Indicators.featureMatrixBy]], completing the
    * flagship artifact's 2x2 (batch/streaming x global/per-series):
    * [[streamingFeatureMatrix]]'s exact plan with both stateful aggs
    * keyed on (event_type, window), so each series carries its own
    * bar state and trailing frames and the whole pipeline
    * parallelizes across symbols — the form a 1000-executor cluster
    * runs, with state per (symbol, in-flight window) and shuffles
    * keyed (symbol, window). The gapless-bar regime (every 5-min
    * bucket has at least one event) must hold PER SERIES, exactly as
    * batch row frames assume one bar per bucket per series.
    * StreamingSpec asserts per-type bit-equality against the composed
    * batch pieces on a two-series fixture. */
  def streamingFeatureMatrixBy(events: DataFrame): DataFrame =
    streamingFeatureMatrixOver(events, seriesKey = Some("event_type"))

  private def streamingFeatureMatrixOver(events: DataFrame,
      seriesKey: Option[String]): DataFrame = {
    val win = slidingBarWindows(events, "175 minutes", withOpen = true, seriesKey)
      .filter(size(col("bs")) >= 16)
    val anchored = withAnchoredIndicators(win, size(col("bs")) - 15)
      .withColumn("p8",
        element_at(col("bs"), greatest(col("bi") + 8, lit(1))).getField("close"))
      .withColumn("p15", element_at(col("bs"), size(col("bs"))).getField("close"))
      .withColumn("atr0",
        expr(foldDec("f15", "CAST(x.high - x.low AS DECIMAL(18,6))", 6)) /
          expr("CAST(size(f15) AS DOUBLE)"))
      // top-level candle/calendar inputs for the shared batch exprs
      // (the select's OUTPUT alias "close" coexists fine: expressions
      // evaluate against the input columns)
      .withColumn("bucket", col("anchor_bar.bucket"))
      .withColumn("open", col("anchor_bar.open"))
      .withColumn("high", col("anchor_bar.high"))
      .withColumn("low", col("anchor_bar.low"))
      .withColumn("close", col("anchor_bar.close"))
    anchored.select(seriesKey.toSeq.map(col) ++ Seq(col("bucket")) ++
      anchoredIndicatorCols ++
      graft.ops.Indicators.candleCalendarBase ++
      graft.ops.Indicators.calendarOneHots ++ Seq(
        when(col("p8") >= col("close") + lit(1.5) * col("atr0"), 1)
          .otherwise(0).as("up1"),
        when(col("p15") >= col("close") + lit(3.0) * col("atr0"), 1)
          .otherwise(0).as("up2"),
        when(col("p8") <= col("close") - lit(1.5) * col("atr0"), 1)
          .otherwise(0).as("down1"),
        when(col("p15") <= col("close") - lit(3.0) * col("atr0"), 1)
          .otherwise(0).as("down2")): _*)
      .filter(col("stoch").isNotNull && col("price_change").isNotNull)
  }

  /** STREAMING W8 targets — the append-mode LEAD. A bar's labels
    * compare its close against closes 8 and 15 bars AHEAD
    * (create_database.py:166-190), so no operator can emit bar B's
    * row before bar B+15 exists: the 15-bar delay is information-
    * theoretic, not an API gap. Rather than a transformWithState
    * lead-buffer (hand-managed per-key ring buffer, RocksDB-only,
    * imperative), the same sliding-window trick expresses it
    * declaratively: a 150-minute (30-bar) trailing window ending at
    * bar C contains C-15 = B AND B's own trailing 15-bar ATR frame
    * AND both lead targets (p8 = B+8 at index n-7, p15 = C itself) —
    * so when C's window closes, B's row emits, complete. Emission lag
    * is 15 bars + watermark, inherent to the semantics.
    *
    * Design note vs batch: batch emits tail rows whose leads are
    * still NULL (labels fall to ELSE 0, reference-faithful); the
    * stream never fabricates those — a tail row emits once its p15
    * arrives, so the streaming output equals the batch rows WHERE
    * p15_close IS NOT NULL (asserted in StreamingSpec), and the
    * final 15 bars of a terminated stream stay unemitted. Same
    * gapless-series regime and exact-decimal ATR as
    * [[streamingIndicatorsFull]]. */
  def streamingTargets(events: DataFrame): DataFrame = {
    val bars = barsKeepWindow(events.withWatermark("ts", "5 minutes"))
    bars
      .groupBy(window(window_time(col("w")), "150 minutes", "5 minutes").as("wt"))
      .agg(
        collect_list(struct(col("w.start").as("bucket"), col("high"),
          col("low"), col("close"))).as("bs0"),
        max(col("w.start")).as("last_bar"))
      .filter(col("last_bar") === col("wt.end") - expr("INTERVAL 5 MINUTES"))
      .withColumn("bs", sort_array(col("bs0")))
      // B = the bar 15 positions before the window's last bar; the
      // window must reach back to it (early-series windows clip to the
      // series start, so n < 16 means B predates the series: no row)
      .filter(size(col("bs")) >= 16)
      .withColumn("bi", size(col("bs")) - 15)
      .withColumn("b", element_at(col("bs"), col("bi")))
      // B's trailing 15-bar ATR frame, clipped at the series start
      // exactly like the batch 14-PRECEDING row frame
      .withColumn("t15", expr(
        "slice(bs, greatest(bi - 14, 1), bi - greatest(bi - 14, 1) + 1)"))
      .withColumn("atr",
        expr("CAST(aggregate(t15, CAST(0 AS DECIMAL(38,6)), (acc, x) -> " +
          "CAST(acc + CAST(x.high - x.low AS DECIMAL(18,6)) AS DECIMAL(38,6))) AS DOUBLE)") /
          expr("CAST(size(t15) AS DOUBLE)"))
      .withColumn("p8_close", element_at(col("bs"), col("bi") + 8).getField("close"))
      .withColumn("p15_close", element_at(col("bs"), size(col("bs"))).getField("close"))
      .select(
        col("b.bucket").as("bucket"),
        col("b.close").as("p0_close"),
        col("p8_close"), col("p15_close"), col("atr"),
        when(col("p8_close") >= col("b.close") + lit(1.5) * col("atr"), 1)
          .otherwise(0).as("up1"),
        when(col("p15_close") >= col("b.close") + lit(3.0) * col("atr"), 1)
          .otherwise(0).as("up2"),
        when(col("p8_close") <= col("b.close") - lit(1.5) * col("atr"), 1)
          .otherwise(0).as("down1"),
        when(col("p15_close") <= col("b.close") - lit(3.0) * col("atr"), 1)
          .otherwise(0).as("down2"))
  }

  /** K2 — the Kafka signal-sink projection (spark_consumer.py:490-502):
    * the joined timestamp JSON-encoded into a `value` column; the
    * writeStream target (format("kafka") + checkpointLocation) is the
    * only part that differs per deployment. */
  def signalProjection(df: DataFrame, tsCol: String): DataFrame =
    df.select(to_json(struct(col(tsCol).cast("string").as("Timestamp"))).as("value"))

  /** Custom per-key state across micro-batches via mapGroupsWithState
    * (the arbitrary-stateful surface the brief calls for): running
    * count/sum/max per series key, emitted per update. The reference
    * kept no cross-batch state in Spark at all (everything went to
    * MariaDB); this is the in-engine form. Output mode: update. */
  def runningStats(df: DataFrame): Dataset[RunningAgg] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("event_type").cast("string"), col("value").cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[RunningAgg, RunningAgg](GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val prev = state.getOption.getOrElse(RunningAgg(key, 0L, 0.0, Double.MinValue))
          var n = prev.n
          var s = prev.sum
          var mx = prev.maxValue
          rows.foreach { r =>
            n += 1; s += r._2; if (r._2 > mx) mx = r._2
          }
          val next = RunningAgg(key, n, s, mx)
          state.update(next)
          next
      }
  }

  /** The Spark 4 successor of [[runningStats]]: the same per-key
    * running aggregate through `transformWithState` — typed
    * StatefulProcessor with named state variables instead of the
    * single opaque GroupState blob. At scale this is the API that
    * matters: state lives in the RocksDB state store (spills beyond
    * heap; required by transformWithState), variables get independent
    * TTLs, and timers replace the single timeout. Equality with the
    * mapGroupsWithState form is asserted in StreamingSpec. */
  def runningStatsTWS(df: DataFrame): Dataset[RunningAgg] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("event_type").cast("string"), col("value").cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new RunningStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** Sessionization in-stream: session_window merges events closer
    * than the gap into one growing window per key; state closes (and
    * the session emits, in append mode) once the watermark passes the
    * session end + gap. The batch twin is Relational.userSessions —
    * same gap semantics via lag/cumsum windows. */
  def streamingSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", "5 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        max(col("value")).as("max_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("max_value"))

  /** The training-data curation pipeline (corpus_pipeline's quality
    * gate + exact dedup) in STREAMING form — what a continuously-fed
    * 100 TB corpus actually runs: per-document quality scoring is
    * stateless map work, and exact dedup keys on the content digest
    * with watermark-bounded state (a duplicate arriving within the
    * watermark is dropped; state is evicted after it, so dedup memory
    * is bounded by ingest rate, not corpus size). Input schema:
    * (doc_id long, ts timestamp, text string, lang string). */
  def streamingCorpusIngest(docs: DataFrame, minQuality: Double = 0.55): DataFrame = {
    val toks = col("toks")
    docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("ts"), col("lang"),
        md5(col("text").cast("binary")).as("digest"),
        size(toks).as("n_tokens"),
        graft.ops.TextDedup.qualityScoreCol(col("text"), toks).as("quality_score"))
      .filter(col("quality_score") >= minQuality)
      .withWatermark("ts", "5 minutes")
      .dropDuplicatesWithinWatermark(Seq("digest"))
  }

  /** [[streamingCorpusIngest]] with stage-zero normalization folded in
    * front: NFC + lower + control strip + whitespace collapse run on
    * the streaming text BEFORE scoring and digesting (all stateless
    * map work — it chains in front of the watermark/dedup state ops
    * for free), so accent/case/whitespace VARIANTS of one document
    * dedup to one row at ingest, the batch
    * dedup_exact_normalized semantics live. The emitted rows carry
    * text_norm — downstream consumers see the canonical form. */
  def streamingNormalizedIngest(docs: DataFrame, minQuality: Double = 0.55): DataFrame =
    streamingCorpusIngest(
      docs.withColumn("text", graft.ops.TextDedup.normalizeTextCol(col("text"))),
      minQuality)

  /** NEAR-duplicate streaming dedup: the map-side SimHash64 sketch is
    * a plain expression (graft.functions.SimHashPack via
    * TextDedup.simhash64Col), so it composes with watermark-bounded
    * dedup — a document whose 64-bit signature collides with one seen
    * inside the watermark is dropped. Signature equality is the
    * hamming-0 band of the batch simhash_pairs operator. What it
    * provably catches beyond exact-digest dedup: any rewrite that
    * preserves the shingle MULTISET — the bit votes are a commutative
    * sum over shingles, so reordering sections around shared boundary
    * context (the template/boilerplate-shuffle dup class) or
    * re-serializing with new ids/timestamps yields the identical
    * signature deterministically. What it does NOT promise: token-level
    * edits change the multiset and, with ~64 bits over short docs, some
    * zero-margin bit usually flips (measured while building the spec —
    * a one-token edit in a 150-shingle doc flipped the signature), so
    * edit-distance near-dups stay with the offline banded pipeline.
    * With the same bounded state as digest dedup. The full batch
    * near-dup pipeline (banded candidates -> clusters) needs the
    * whole corpus; this is its ingest-time complement, standard in
    * 100 TB pipelines: cheap sketch-equality gate in-stream, full
    * clustering offline. Input schema: (doc_id long, ts timestamp,
    * text string, lang string).
    *
    * Documents too short to shingle (< 3 tokens) PASS THROUGH: they
    * get a per-doc dedup key instead of a signature, so the gate never
    * deletes a document it cannot fingerprint (an earlier draft's
    * filter dropped them from the corpus entirely — data loss, not
    * dedup; and a shared null/zero signature would have collapsed all
    * short docs to one survivor). The key is a tagged string, so a
    * signature can never collide with a doc id. */
  def streamingNearDupIngest(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("simhash64",
        when(size(col("toks")) > 2,
          graft.ops.TextDedup.simhash64Col(graft.functions.token_ngrams(col("toks"), 3))))
      .withColumn("dedup_key",
        when(col("simhash64").isNotNull, concat(lit("s:"), col("simhash64")))
          .otherwise(concat(lit("d:"), col("doc_id"))))
      .drop("toks")
      .withWatermark("ts", "5 minutes")
      .dropDuplicatesWithinWatermark(Seq("dedup_key"))
      .drop("dedup_key")

  /** STREAMING sequence packing: the batch
    * [[graft.ops.TrainingData.seqPacking]] layout computed as
    * documents arrive — each shard's packing cursor (ONE long: the
    * cumulative token count) is the only cross-batch state, carried by
    * flatMapGroupsWithState. A continuously-fed corpus can therefore
    * emit training-sequence coordinates at ingest: thousands of shards
    * cost kilobytes of state, nothing like the windowed-agg state the
    * other stateful ops hold. Within a micro-batch the group's rows
    * sort by doc_id (iterator order is not contractual); ACROSS
    * batches the packing order is arrival order — equality with the
    * batch window form holds when docs arrive in doc_id order per
    * shard (asserted in StreamingSpec over multiple batches). No
    * watermark: the state never expires by design (a packing cursor is
    * meaningful for the stream's lifetime). Input: (doc_id, text). */
  def streamingSeqPacking(docs: DataFrame): Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val L = graft.ops.TrainingData.seqLen
    val S = graft.ops.TrainingData.nShards
    docs
      .select(col("doc_id").cast("long"),
        size(split(col("text"), " ")).as("n_tokens"))
      .as[(Long, Int)]
      .groupByKey { case (id, _) => id % S }
      .flatMapGroupsWithState[Long, PackedDoc](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (shard, rows, state) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (id, n) =>
            val start = cum
            cum += n
            PackedDoc(id, shard, n, start / L, (cum - 1) / L, start % L)
          }
          state.update(cum)
          out.iterator
      }
  }

  /** K1 — the foreachBatch sink shape (spark_consumer.py:68-84):
    * empty-batch skip + idempotent batchId-keyed write (the production
    * fix SURVEY §7.3 calls out: the reference's JDBC append was
    * at-least-once). Idempotency comes from partitioning the output by
    * batch_id and dynamically overwriting only that partition — a
    * replayed micro-batch after a failure rewrites its own
    * `batch_id=N/` directory instead of appending a duplicate copy. */
  def foreachBatchParquetSink(df: DataFrame, outDir: String, checkpoint: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val w = df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, batchId, outDir)
        ()
      }
    // S6 — the reference's 5-minute polling loop (producer.py:258) maps
    // to Trigger.ProcessingTime("5 minutes") here; tests drive a short
    // cadence and assert the executor actually runs processing-time
    trigger.fold(w)(w.trigger)
  }

  /** The per-micro-batch body of [[foreachBatchParquetSink]]: skip empty
    * batches, else rewrite exactly the `batch_id=N/` partition. Running
    * it twice with the same batchId (a replay) leaves one copy.
    * Returns whether anything was WRITTEN (false = empty batch,
    * skipped) so a caller holding a per-stream FS memo can note its
    * own write without another listing (r16, VERDICT r15 #4). */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, outDir: String): Boolean =
    if (batch.isEmpty) false
    else {
      batch.withColumn("batch_id", lit(batchId))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .mode("overwrite")
        .parquet(outDir)
      true
    }

  /** The probe-stream shape shared by every stream that probes or
    * appends against persisted artifacts: per micro-batch, skip an
    * empty batch, else run `probe(batch, batchId, memo)` and land its
    * result idempotently under the batch_id partition
    * ([[writeBatchIdempotent]]), so a replayed batch rewrites only its
    * own directory. `memo` is ONE [[graft.ops.Core.FsMemo]] per stream:
    * tombstone sidecars are written only under quiesce and a stream's
    * state tables have the stream as their only writer, so steady state
    * is one existence listing per optional table for the stream's life
    * instead of one per micro-batch (FsMemoSpec counts them). */
  private[graft] def probeStream(incoming: DataFrame, outDir: String, checkpoint: String)(
      probe: (DataFrame, Long, graft.ops.Core.FsMemo) => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val memo = new graft.ops.Core.FsMemo
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          writeBatchIdempotent(probe(batch, batchId, memo), batchId, outDir)
          ()
        }
      }
      .start()
  }

  /** INDEPENDENT per-batch state writes submitted concurrently through
    * [[graft.ops.Core.inParallel]] (its threading contract: fresh
    * threads inheriting the caller's job group, every writer joined
    * before anything propagates). Each write keeps
    * [[writeBatchIdempotent]]'s exact per-table semantics, and targets
    * are required distinct (two threads overwriting one dir would race
    * the commit protocol). Returns written-flags in input order.
    *
    * `onWritten(i)` fires (on the calling thread, after the join) for
    * every write that SUCCEEDED with data, BEFORE the first failure
    * (in input order) rethrows: callers holding a per-stream FsMemo
    * note each write there, and a skipped note would leave the memo
    * negative-caching state tables that ARE on disk. The writer tasks
    * return a `Try` catching Throwable, so every outcome is seen. */
  def writeBatchIdempotentAll(writes: Seq[(DataFrame, String)],
      batchId: Long, onWritten: Int => Unit = _ => ()): Seq[Boolean] = {
    require(writes.map(_._2).distinct.size == writes.size,
      "writeBatchIdempotentAll: duplicate target dirs — concurrent " +
        "overwrites of one directory race the commit protocol")
    val results = graft.ops.Core.inParallel(writes.zipWithIndex.map { case ((df, dir), i) =>
      s"batch-write-$batchId-$i" -> (() =>
        try scala.util.Success(writeBatchIdempotent(df, batchId, dir))
        catch { case t: Throwable => scala.util.Failure(t) })
    })
    results.zipWithIndex.foreach {
      case (scala.util.Success(true), i) => onWritten(i)
      case _ => ()
    }
    results.map(_.get)
  }
}
