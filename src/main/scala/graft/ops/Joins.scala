package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** J1 — the reference's interval (tolerance) stream-stream join
  * (spark_consumer.py:434-477): inner join on equal 5-min bucket AND
  * other_ts in [deep_ts, deep_ts + 3 min]. Batch analogue here (the
  * streaming form with watermarks lives in graft.streaming); `purchase`
  * events stand in for the DEEP book stream, `view` events for the VIX
  * stream (FIXTURES.md §B mapping).
  *
  * Scale: the equi bucket key is what makes this join hash-partitionable
  * (the reference added it for exactly that reason — SURVEY §4.1); the
  * range predicate is evaluated post-shuffle within each bucket. At
  * 100 TB both sides shuffle on bucket — bounded state, no cross
  * product beyond a bucket.
  */
object Joins extends QueryModule {

  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Core.events(spark, dir)
    val deep = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("deep_id"), col("ts").as("deep_ts"),
        col("value").as("deep_value"), Core.bucket5m(col("ts")).as("bucket"))
    val vix = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("vix_id"), col("ts").as("vix_ts"),
        col("value").as("vix_value"), Core.bucket5m(col("ts")).as("bucket"))
    deep.join(vix,
        deep("bucket") === vix("bucket") &&
          col("vix_ts") >= col("deep_ts") &&
          col("vix_ts") <= col("deep_ts") + expr("INTERVAL 3 MINUTES"),
        "inner")
      .select(col("deep_id"), col("deep_ts"), col("deep_value"),
        col("vix_id"), col("vix_ts"), col("vix_value"))
  }

  val intervalJoinSql: String =
    s"""WITH e AS (SELECT *, ${Core.bucket5mSql} AS bucket FROM ${Core.sqlEvents})
       |SELECT d.event_id AS deep_id, d.ts AS deep_ts, d.value AS deep_value,
       |       v.event_id AS vix_id, v.ts AS vix_ts, v.value AS vix_value
       |FROM e d JOIN e v
       |  ON d.bucket = v.bucket
       | AND v.ts >= d.ts AND v.ts <= d.ts + INTERVAL 3 MINUTES
       |WHERE d.event_type = 'purchase' AND v.event_type = 'view'""".stripMargin

  /** J1 + O1 — the wide join output deduplicated (spark_consumer.py:477
    * guards re-emission with a full-row dropDuplicates). */
  def intervalJoinDedup(spark: SparkSession, dir: String): DataFrame =
    intervalJoin(spark, dir)
      .select(col("deep_id"),
        Core.bucket5m(col("deep_ts")).as("bucket"))
      .dropDuplicates()

  val intervalJoinDedupSql: String =
    s"""SELECT DISTINCT deep_id, make_timestamp((epoch_us(deep_ts) // 300000000) * 300000000) AS bucket
       |FROM ($intervalJoinSql)""".stripMargin

  /** As-of join — the operator J1 approximates with its bucket+range
    * tolerance (SURVEY §2.4: "the poor man's as-of"): for each deep
    * (purchase) event, the most recent vix (view) value at-or-before
    * its timestamp. Composed from built-ins per the preference order —
    * union the two sides, order by (ts, side-tag) so the right side
    * sorts first at equal timestamps, and carry the last non-null
    * right value forward (`last(ignoreNulls) over rowsBetween(-inf,0)`)
    * — no custom planner node needed. Checked against DuckDB's native
    * ASOF LEFT JOIN.
    *
    * Scale note: the global time order is single-partition here for
    * oracle parity; production partitions by symbol/day (each series
    * is an independent as-of domain), exactly like `indicatorsBy`. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Core.events(spark, dir)
    val deep = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("deep_id"), col("ts"),
        col("value").as("deep_value"), lit(1).as("tag"),
        lit(null).cast("double").as("vix_raw"))
    // right side deduped per timestamp (deterministic max-event pick)
    val vix = ev.filter(col("event_type") === "view")
      .groupBy(col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("vix_raw"))
      .select(lit(null).cast("long").as("deep_id"), col("ts"),
        lit(null).cast("double").as("deep_value"), lit(0).as("tag"), col("vix_raw"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // carry the latest RIGHT ROW as a struct, not its bare value: a
    // bare last(value, ignoreNulls) would skip null-VALUED right rows
    // and resurface an older value, where the ASOF oracle pairs with
    // the latest row regardless of its value's nullness
    deep.unionByName(vix)
      .withColumn("m",
        last(when(col("tag") === 0, struct(col("vix_raw").as("mval"))),
          ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("deep_id"), col("ts").as("deep_ts"), col("deep_value"),
        col("m.mval").as("vix_value"))
  }

  val asofJoinSql: String =
    s"""WITH e AS (SELECT * FROM ${Core.sqlEvents}),
       |deep AS (
       |  SELECT event_id AS deep_id, ts, value AS deep_value
       |  FROM e WHERE event_type = 'purchase'),
       |vix AS (
       |  SELECT ts, arg_max(value, event_id) AS vix_value
       |  FROM e WHERE event_type = 'view' GROUP BY ts)
       |SELECT d.deep_id, d.ts AS deep_ts, d.deep_value, v.vix_value
       |FROM deep d ASOF LEFT JOIN vix v ON d.ts >= v.ts""".stripMargin

  /** The shared per-user as-of core: union purchases with per-ts
    * deduped views and carry the latest PRIOR VIEW ROW forward as ONE
    * (ts, value) struct — the struct is non-null for every view row
    * even when its VALUE is null, so the matched timestamp and the
    * matched value can never desynchronize (two parallel
    * `last(ignoreNulls)` carries would skip null-VALUED views for the
    * value while still advancing the timestamp — a stale value passed
    * off under a fresh timestamp, and a divergence from the ASOF
    * oracle, which always takes the latest ROW). Both the unbounded
    * and the tolerance form project from this frame. */
  private def asofByUserCarried(spark: SparkSession, dir: String): DataFrame = {
    val ev = Core.events(spark, dir)
    val matched = struct(col("ts").as("mts"), col("view_raw").as("mval"))
    val deep = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("deep_id"), col("ts"),
        col("value").as("deep_value"), lit(1).as("tag"),
        lit(null).cast("double").as("view_raw"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("view_raw"))
      .select(col("user_id"), lit(null).cast("long").as("deep_id"), col("ts"),
        lit(null).cast("double").as("deep_value"), lit(0).as("tag"), col("view_raw"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    deep.unionByName(views)
      .withColumn("m",
        last(when(col("tag") === 0, matched), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("user_id"), col("deep_id"), col("ts").as("deep_ts"),
        col("deep_value"), col("m.mts").as("matched_ts"),
        col("m.mval").as("matched_value"))
  }

  /** Partitioned as-of join — the 100 TB form of `asofJoin`: each
    * user's purchases pick up that user's latest prior view. The
    * window partitions by the series key, so the sort parallelizes
    * across executors (no global order). Oracle: DuckDB ASOF LEFT
    * JOIN with an equality condition. */
  def asofJoinByUser(spark: SparkSession, dir: String): DataFrame =
    asofByUserCarried(spark, dir)
      .select(col("user_id"), col("deep_id"), col("deep_ts"),
        col("deep_value"), col("matched_value").as("view_value"))

  val asofJoinByUserSql: String =
    s"""WITH e AS (SELECT * FROM ${Core.sqlEvents}),
       |deep AS (
       |  SELECT user_id, event_id AS deep_id, ts, value AS deep_value
       |  FROM e WHERE event_type = 'purchase'),
       |views AS (
       |  SELECT user_id, ts, arg_max(value, event_id) AS view_value
       |  FROM e WHERE event_type = 'view' GROUP BY user_id, ts)
       |SELECT d.user_id, d.deep_id, d.ts AS deep_ts, d.deep_value, v.view_value
       |FROM deep d ASOF LEFT JOIN views v
       |  ON d.user_id = v.user_id AND d.ts >= v.ts""".stripMargin

  /** As-of join with a TOLERANCE bound (pandas merge_asof(tolerance=),
    * QuestDB/kdb aj within-window semantics): a match older than
    * `toleranceUs` is no match at all — both the value and its
    * timestamp come back null, exactly as if the series had no prior
    * point. The reference's own 3-minute interval join is this idea
    * expressed as a range predicate; here it composes onto the
    * carry-forward as-of by ALSO carrying the matched timestamp and
    * gating both outputs on the age, integer microsecond math on both
    * engines. Same per-user partitioned window as [[asofJoinByUser]]
    * — the 100 TB form. */
  private val defaultTolUs = 10L * 60L * 1000000L // 10 minutes

  // no tolerance parameter on the registered form: the oracle SQL bakes
  // in defaultTolUs, so a runtime override would silently diverge from
  // the registered oracle pair (ADVICE r4). Engine and oracle read the
  // same constant; a differently-bounded as-of is a new query pair.
  def asofJoinTolerance(spark: SparkSession, dir: String): DataFrame = {
    val fresh = col("matched_ts").isNotNull &&
      unix_micros(col("deep_ts")) - unix_micros(col("matched_ts")) <= defaultTolUs
    asofByUserCarried(spark, dir)
      .select(col("user_id"), col("deep_id"), col("deep_ts"), col("deep_value"),
        when(fresh, col("matched_ts")).as("view_ts"),
        when(fresh, col("matched_value")).as("view_value"))
  }

  val asofJoinToleranceSql: String =
    s"""WITH e AS (SELECT * FROM ${Core.sqlEvents}),
       |deep AS (
       |  SELECT user_id, event_id AS deep_id, ts, value AS deep_value
       |  FROM e WHERE event_type = 'purchase'),
       |views AS (
       |  SELECT user_id, ts, arg_max(value, event_id) AS view_value
       |  FROM e WHERE event_type = 'view' GROUP BY user_id, ts)
       |SELECT d.user_id, d.deep_id, d.ts AS deep_ts, d.deep_value,
       |  CASE WHEN v.ts IS NOT NULL AND epoch_us(d.ts) - epoch_us(v.ts) <= $defaultTolUs
       |       THEN v.ts END AS view_ts,
       |  CASE WHEN v.ts IS NOT NULL AND epoch_us(d.ts) - epoch_us(v.ts) <= $defaultTolUs
       |       THEN v.view_value END AS view_value
       |FROM deep d ASOF LEFT JOIN views v
       |  ON d.user_id = v.user_id AND d.ts >= v.ts""".stripMargin

  /** ORACLE-GATED batch twin of the streaming pivot DAG
    * ([[graft.streaming.StreamingPipeline.referenceDagPivot]], r13 —
    * VERDICT r12 #3): the union-tag -> single interval join ->
    * max-struct pivot shape, run through the SAME production function
    * on batch frames (watermarks are no-ops on batch via
    * EliminateEventTimeWatermark), so the pivot's three subtle
    * contracts — the null-payload MATCH WITNESS (a matched aux row
    * whose payload is NULL must keep the deep row), the TYPE RESTORE
    * (long/int payloads coerced to double for the tagged union must
    * come back as long/int), and the one-source-row PAIRING (the
    * emitted (ts, value) pair per aux comes from the single max-aux_ts
    * row, never a cross-column mix) — are hash-gated against DuckDB,
    * not just unit-pinned.
    *
    * Fixture mapping: `purchase` events are the deep stream; the four
    * aux feeds derive from the other event types, each deduped to one
    * row per timestamp (max_by event_id — ties impossible after the
    * group, so the max-struct pick is deterministic on both engines):
    * `vix` (double), `vol` (floor -> long), `cot` (floor -> int), and
    * `ind` (double with values < 100 nulled — the null-payload class).
    * The testdata's events span ~30 days (one event per type per ~22
    * minutes — an inner join demanding all four aux types inside one
    * 3-minute window would emit ZERO rows, a vacuous gate), so every
    * timestamp is folded onto one day first (epoch_us % 86400e6 —
    * exact integer arithmetic, identical on both engines): the folded
    * feed carries one event per type per ~43 s, every deep window
    * holds MULTIPLE candidates per aux, and the max-struct selection
    * is genuinely exercised on ~1.9k output rows.
    *
    * SCALE NOTE (r14, VERDICT r13 #5 — SF-invariant fixture density):
    * r13 folded onto a FIXED one day, so folded density grew linearly
    * with corpus size and per-bucket join volume quadratically with SF
    * — the gate would have blown up at sf1 while the production
    * operator stayed bounded. The fold modulus is now DERIVED from the
    * corpus: modulus_us = (span_us div 300000) * n_events, i.e. the
    * folded feed always carries ~10,000 events/day (one per aux type
    * per ~43 s — exactly the density the r13 fixture calibrated at
    * sf0.01, where n = 10,000 makes the modulus ~1 day). The driver
    * testdata keeps a fixed ~30-day span and grows DENSITY with SF, so
    * a span-only rule (span/30) would not be invariant; span x count
    * is, under any (span, density) scaling: folded density = n /
    * modulus = 300000 / span_us — constant in n. Per-bucket candidate
    * volume is therefore constant as SF grows and gate runtime scales
    * ~linearly (deep rows x constant matches). Integer arithmetic,
    * written identically in the oracle's scalar subquery ((a // b) * c,
    * both operands positive, floor = truncate), so the fold is
    * bit-exact on both engines; the min/max/count agg runs eagerly at
    * construction (the dedupClusters precedent). The production path
    * remains [[graft.streaming.StreamingPipeline.referenceDagPivot]]
    * on real feeds at their native cadence; the registered query
    * exists to hash-gate the pivot's contracts, like
    * `ngram_jaccard_pairs` exists to verify the banded path.
    * Measured after the change (hash-green at BOTH sf0.01 and sf0.1):
    * rows 1,321 -> 13,762 (linear in SF), QBench cold-JVM sf0.01
    * [1.27, 0.90, 0.81]s vs sf0.1 [2.01, 1.42, 1.17]s — ~1.5x for 10x
    * data (fixed overhead dominates); r13's fixed-day fold ran this
    * gate at 4.79s at sf0.1 and would have gone quadratic past it.
    *
    * The four aux feeds keep one groupBy(ts) aggregate each. Deriving
    * them from ONE groupBy(event_type, ts) aggregate (each branch
    * filtering its own type) was measured negative in r18: Catalyst
    * pushes each branch's type filter back through the aggregate (a
    * deterministic filter on a grouping key), recreating four
    * distinct subtrees, so both shapes execute 6 Exchanges / 0 reused
    * / 5 parquet scans (plans/r18/) and there is no exchange to share.
    * The query's per-job decomposition (steady state 1.19s:
    * density-gate pass ~0.34s at construction, the 430ms
    * interval-join+pivot job, and the four aux agg jobs already
    * overlapping under AQE) says the remaining cost IS the pivot. */
  def intervalJoinPivot(spark: SparkSession, dir: String): DataFrame = {
    val ev0 = Core.events(spark, dir)
    val stats = ev0.agg(
      min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx"),
      count(lit(1)).as("n")).first()
    val modulus =
      if (stats.isNullAt(0)) 86400000000L // empty corpus: 0 rows either way
      else math.max(1L, (stats.getLong(1) - stats.getLong(0)) / 300000L * stats.getLong(2))
    val ev = ev0.withColumn("ts", timestamp_micros(unix_micros(col("ts")) % modulus))
    val deep = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("value"))
    def auxAgg(t: String): DataFrame =
      ev.filter(col("event_type") === t)
        .groupBy(col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("v0"))
    val auxes = Seq(
      "vix" -> auxAgg("view").select(col("ts"), col("v0").as("vix")),
      "vol" -> auxAgg("click").select(col("ts"),
        floor(col("v0")).cast("long").as("vol")),
      "cot" -> auxAgg("signup").select(col("ts"),
        floor(col("v0")).cast("int").as("cot")),
      "ind" -> auxAgg("error").select(col("ts"),
        when(col("v0") < 100, lit(null).cast("double"))
          .otherwise(col("v0")).as("ind")))
    graft.streaming.StreamingPipeline.referenceDagPivot(deep, auxes)
  }

  val intervalJoinPivotSql: String = {
    def bucket(c: String) = s"make_timestamp((epoch_us($c) // 300000000) * 300000000)"
    def pick(n: String) =
      s"max(CASE WHEN aux_name = '$n' THEN {'ts': aux_ts, 'v': aux_v} END) AS p_$n"
    s"""WITH m AS (
       |  SELECT greatest(1, (epoch_us(max(ts)) - epoch_us(min(ts))) // 300000 * count(*)) AS md
       |  FROM ${Core.sqlEvents}),
       |e AS (
       |  SELECT * REPLACE (make_timestamp(epoch_us(ts) % (SELECT md FROM m)) AS ts)
       |  FROM ${Core.sqlEvents}),
       |deep AS (
       |  SELECT event_id, ts, value, ${bucket("ts")} AS bucket
       |  FROM e WHERE event_type = 'purchase'),
       |aux AS (
       |  SELECT 'vix' AS aux_name, ts, arg_max(value, event_id) AS aux_v
       |    FROM e WHERE event_type = 'view' GROUP BY ts
       |  UNION ALL
       |  SELECT 'vol', ts, FLOOR(arg_max(value, event_id))
       |    FROM e WHERE event_type = 'click' GROUP BY ts
       |  UNION ALL
       |  SELECT 'cot', ts, FLOOR(arg_max(value, event_id))
       |    FROM e WHERE event_type = 'signup' GROUP BY ts
       |  UNION ALL
       |  SELECT 'ind', ts,
       |      CASE WHEN arg_max(value, event_id) < 100 THEN NULL
       |           ELSE arg_max(value, event_id) END
       |    FROM e WHERE event_type = 'error' GROUP BY ts),
       |j AS (
       |  SELECT d.event_id, d.ts, d.value, d.bucket,
       |         a.aux_name, a.ts AS aux_ts, a.aux_v
       |  FROM deep d JOIN aux a
       |    ON d.bucket = ${bucket("a.ts")}
       |   AND a.ts >= d.ts AND a.ts <= d.ts + INTERVAL 3 MINUTES),
       |p AS (
       |  SELECT event_id, ts, value, bucket,
       |    ${pick("vix")}, ${pick("vol")}, ${pick("cot")}, ${pick("ind")}
       |  FROM j GROUP BY 1, 2, 3, 4)
       |SELECT event_id, ts, value, bucket,
       |  p_vix.ts AS vix_ts, p_vix.v AS vix,
       |  p_vol.ts AS vol_ts, CAST(p_vol.v AS BIGINT) AS vol,
       |  p_cot.ts AS cot_ts, CAST(p_cot.v AS INTEGER) AS cot,
       |  p_ind.ts AS ind_ts, p_ind.v AS ind
       |FROM p
       |WHERE p_vix IS NOT NULL AND p_vol IS NOT NULL
       |  AND p_cot IS NOT NULL AND p_ind IS NOT NULL""".stripMargin
  }

  override def queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "interval_join" -> (intervalJoin _),
    "interval_join_dedup" -> (intervalJoinDedup _),
    "interval_join_pivot" -> (intervalJoinPivot _),
    "asof_join" -> (asofJoin _),
    "asof_join_by_user" -> (asofJoinByUser _),
    "asof_join_tolerance" -> (asofJoinTolerance _))

  override def oracle: Seq[(String, String)] = Seq(
    "interval_join" -> intervalJoinSql,
    "interval_join_dedup" -> intervalJoinDedupSql,
    "interval_join_pivot" -> intervalJoinPivotSql,
    "asof_join" -> asofJoinSql,
    "asof_join_by_user" -> asofJoinByUserSql,
    "asof_join_tolerance" -> asofJoinToleranceSql)
}
