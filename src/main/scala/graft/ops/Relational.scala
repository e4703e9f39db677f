package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** General relational coverage over the TPC-H-ish tables: the
  * aggregation (A1-A3), join (J2/J4-shaped), dedup (O1/O4) and top-k
  * (O2) operators from SURVEY.md §2 exercised at bench scale.
  *
  * Scale notes (100 TB): the fact-side scans (`lineitem`, `orders`)
  * aggregate with map-side partial aggregation before the shuffle;
  * dimension joins (`customer`, `nation`, `region`, `supplier`) are
  * explicitly broadcast — no fact-fact shuffle join anywhere here.
  * Filters/projections sit directly on the parquet scan so pushdown
  * and column pruning reach the reader.
  */
object Relational extends QueryModule {

  /** TPC-H Q1-shaped pricing summary: wide partial-agg groupBy.
    * Decimal sums (exact) cast to double for the oracle. */
  /** Narrow decimal casts keep DuckDB's product widths under its
    * 38-digit cap while staying exact (price <= 7 int digits, disc/tax
    * 2-decimal fractions). */
  private val price = col("l_extendedprice").cast("decimal(12,2)")
  private val disc = col("l_discount").cast("decimal(4,2)")
  private val tax = col("l_tax").cast("decimal(4,2)")
  private val one = lit(1).cast("decimal(3,2)")

  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Core.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(Core.dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * (one - disc)).cast("double").as("sum_disc_price"),
        sum(price * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
        (sum(Core.dec2(col("l_quantity"))).cast("double") / count(lit(1)).cast("double")).as("avg_qty"),
        (sum(disc).cast("double") / count(lit(1)).cast("double")).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** J2-shaped wide equi-join with broadcast dimensions: revenue by
    * nation/region through customer -> orders -> lineitem. The dims are
    * broadcast (customer at TPC-H scale is small relative to lineitem;
    * at true 100 TB customer would be bucket-joined instead — noted). */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    // spreadNarrowScan: the fact-side join probes + revenue partial
    // agg run pre-exchange (the dims broadcast, so nothing else
    // re-spreads the fact stream)
    val li = Core.spreadNarrowScan(Core.lineitem(spark, dir))
    val o = Core.orders(spark, dir)
    val c = Core.customer(spark, dir)
    val n = Core.nation(spark, dir)
    val r = Core.region(spark, dir)
    val rev = price * (one - disc)
    // orders/customer are fact-sized: no broadcast hint — AQE picks
    // broadcast at small SF from runtime stats and a shuffle join once
    // they outgrow the threshold. nation/region are true dims: pin the
    // broadcast.
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_items"))
  }

  val revenueByNationSql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  /** O2 — latest-point selection per series (getMarketData.py:198-206
    * "keep only the newest data point"): deterministic row_number pick. */
  def latestPoint(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("ts").desc, col("event_id").desc)
    Core.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("ts"), col("value"))
  }

  val latestPointSql: String =
    s"""SELECT event_type, ts, value FROM (
      |  SELECT event_type, ts, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM ${Core.sqlEvents}) WHERE rn = 1""".stripMargin

  /** O1 — dropDuplicates after the wide join (spark_consumer.py:477);
    * batch analogue: DISTINCT on a projection. */
  def dedupRows(spark: SparkSession, dir: String): DataFrame =
    Core.events(spark, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates()

  val dedupRowsSql: String =
    s"SELECT DISTINCT user_id, event_type FROM ${Core.sqlEvents}"

  /** S7 — cross-run anti-join dedup (economic_indicators_spider.py:42-48):
    * events in the last day of the month not already seen (same
    * user_id+event_type) earlier in the month. */
  def antiJoinNew(spark: SparkSession, dir: String): DataFrame = {
    val ev = Core.events(spark, dir)
      .withColumn("vbucket", floor(col("value") / lit(10.0)).cast("long"))
    val cutoff = expr("TIMESTAMP '2024-01-30 00:00:00'")
    val fresh = ev.filter(col("ts") >= cutoff)
    val seen = ev.filter(col("ts") < cutoff)
      .select("user_id", "event_type", "vbucket").dropDuplicates()
    fresh.join(seen, Seq("user_id", "event_type", "vbucket"), "left_anti")
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  val antiJoinNewSql: String =
    s"""SELECT event_id, user_id, event_type FROM
      |  (SELECT *, CAST(floor(value / 10.0) AS BIGINT) AS vbucket FROM ${Core.sqlEvents}) e
      |WHERE e.ts >= TIMESTAMP '2024-01-30 00:00:00'
      |  AND NOT EXISTS (
      |    SELECT 1 FROM (SELECT *, CAST(floor(value / 10.0) AS BIGINT) AS vbucket FROM ${Core.sqlEvents}) s
      |    WHERE s.ts < TIMESTAMP '2024-01-30 00:00:00'
      |      AND s.user_id = e.user_id AND s.event_type = e.event_type
      |      AND s.vbucket = e.vbucket)""".stripMargin

  /** S8 — sparse-to-dense template fill (config.py:56-66): pivot
    * event_type counts per user over the full 5-type template, missing
    * combinations filled with 0. */
  def templateFill(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Core.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0)
  }

  val templateFillSql: String =
    s"""SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS "click",
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS "error",
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS "purchase",
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS "signup",
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
      |FROM ${Core.sqlEvents} GROUP BY user_id""".stripMargin

  /** P2/P11 — JSON decode with schema (from_json over the `props`
    * column) + lenient numeric cast, the Kafka-payload decode shape
    * (spark_consumer.py:102-103). */
  def jsonDecode(spark: SparkSession, dir: String): DataFrame =
    Core.events(spark, dir)
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("m"),
        Core.bucket5m(col("ts")).as("bucket"))
      .select(col("event_id"), col("m.k").as("k"), col("bucket"))

  val jsonDecodeSql: String =
    s"""SELECT event_id,
       |  CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k,
       |  ${Core.bucket5mSql} AS bucket
       |FROM ${Core.sqlEvents}""".stripMargin

  /** P12 — stale-message filter (predict.py:128-135): keep only rows
    * within 4 minutes of the stream's high-water mark (current_timestamp
    * replaced by max(ts) for determinism). */
  def staleFilter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Core.events(spark, dir)
    val mx = ev.agg(max(col("ts")).as("mx"))
    ev.crossJoin(broadcast(mx))
      .filter(col("ts") >= col("mx") - expr("INTERVAL 4 MINUTES"))
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
  }

  val staleFilterSql: String =
    s"""SELECT event_id, ts, event_type, value FROM ${Core.sqlEvents}
      |WHERE ts >= (SELECT max(ts) FROM ${Core.sqlEvents}) - INTERVAL 4 MINUTES""".stripMargin

  /** P13 — row-age guard with restamp (getMarketData.py:208-218,
    * 232-237: API points older than expected minus tolerance get
    * re-stamped to the expected slot so the 5-min cadence holds). Here
    * the expected slot is the event's bucket end; rows lagging their
    * slot by > 4 min are restamped to it. */
  def restampGuard(spark: SparkSession, dir: String): DataFrame = {
    val expected = Core.bucket5m(col("ts")) + expr("INTERVAL 5 MINUTES")
    Core.events(spark, dir).select(
      col("event_id"), col("ts"),
      when(col("ts") < expected - expr("INTERVAL 4 MINUTES"), expected)
        .otherwise(col("ts")).as("effective_ts"),
      (col("ts") < expected - expr("INTERVAL 4 MINUTES")).as("restamped"))
  }

  val restampGuardSql: String =
    s"""SELECT event_id, ts,
       |  CASE WHEN ts < ${Core.bucket5mSql} + INTERVAL 5 MINUTES - INTERVAL 4 MINUTES
       |       THEN ${Core.bucket5mSql} + INTERVAL 5 MINUTES ELSE ts END AS effective_ts,
       |  ts < ${Core.bucket5mSql} + INTERVAL 5 MINUTES - INTERVAL 4 MINUTES AS restamped
       |FROM ${Core.sqlEvents}""".stripMargin

  /** P10 — key sanitization (getMarketData.py:10-24 recursively
    * replaces '. '/'.'/' ' in JSON keys): at-select-time rename, no
    * runtime operator (tested in RegistrySpec-adjacent BookSpec). */
  def sanitizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.replaceAll("[.\\s]+", "_")): _*)

  /** Distinct aggregation (absent from the reference — SURVEY §2.5
    * flags it as a capability extension): distinct users per event
    * type. Exact COUNT(DISTINCT) expands to a two-phase aggregate
    * (partial distinct per partition, then merge) — fine when group
    * cardinality is modest. */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Core.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  val distinctUsersSql: String =
    s"""SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
       |FROM ${Core.sqlEvents} GROUP BY 1""".stripMargin

  /** Discrete quantiles per series (extension — the reference has no
    * quantile operator): percentile_disc picks ACTUAL data values (no
    * interpolation arithmetic), so the result is bit-exact across
    * engines by construction. */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    Core.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").as("p25"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").as("p75"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("p95"))

  val valueQuantilesSql: String =
    s"""SELECT event_type,
       |  quantile_disc(value, 0.25) AS p25,
       |  quantile_disc(value, 0.5) AS p50,
       |  quantile_disc(value, 0.75) AS p75,
       |  quantile_disc(value, 0.95) AS p95
       |FROM ${Core.sqlEvents} GROUP BY 1""".stripMargin

  /** The 100 TB form of [[valueQuantiles]]: approx_percentile runs a
    * mergeable Greenwald-Khanna-style quantile summary — fixed-size
    * per-group state combined map-side, so memory is O(groups * 1/eps)
    * instead of the per-group sort/materialization exact
    * percentile_disc needs. Sketches are engine-specific -> no oracle;
    * the spec bounds rank error against the exact quantiles (the same
    * pattern as approxDistinctUsers/HLL). */
  def approxValueQuantiles(spark: SparkSession, dir: String, accuracy: Int = 1000): DataFrame =
    Core.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr(s"approx_percentile(value, array(0.25, 0.5, 0.75, 0.95), $accuracy)")
          .as("quantiles_approx"))

  /** ROLLUP aggregation (extension — no grouping sets anywhere in the
    * reference): revenue at (region, nation), per-region subtotal, and
    * grand total in one pass. Spark expands the grouping sets before
    * the aggregate, so partial aggregation still applies per set. */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame = {
    // spreadNarrowScan: same fact-side rationale as revenueByNation
    val li = Core.spreadNarrowScan(Core.lineitem(spark, dir))
    val o = Core.orders(spark, dir)
    val c = Core.customer(spark, dir)
    val n = Core.nation(spark, dir)
    val r = Core.region(spark, dir)
    val rev = price * (one - disc)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_items"))
  }

  val revenueRollupSql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)""".stripMargin

  /** Shipping-priority top-k (extension; the TPC-H Q3 shape): segment
    * filter on customer, date range split across orders/lineitem, then
    * revenue per open order and the k hottest orders. The selective
    * filters sit directly on the scans (with native TIMESTAMP parquet
    * the date ranges push down to row-group pruning; the driver
    * testdata stores nanos-as-long, so the cast runs post-scan — noted,
    * not hidden). Revenue ranks by TakeOrderedAndProject: per-partition
    * k-heaps + a k-row driver merge, no global sort. The grouped key
    * (l_orderkey) rides the same shuffle as the join, and AQE
    * broadcasts the filtered customer side at bench scale. */
  private val topOrdersCutoff = "1998-06-01"
  private val topOrdersK = 10

  // k is NOT a parameter: the oracle SQL bakes in topOrdersK, so a
  // runtime override would silently diverge from the registered pair
  // (ADVICE r4); both sides read the same constant.
  def topOrders(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit(topOrdersCutoff).cast("timestamp")
    // spreadNarrowScan AFTER the pushed filter: only surviving rows
    // shuffle, and the scan's PushedFilters/pruning are unchanged
    val li = Core.spreadNarrowScan(
      Core.lineitem(spark, dir).filter(col("l_shipdate") > cut))
    val o = Core.orders(spark, dir).filter(col("o_orderdate") < cut)
    val c = Core.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val rev = price * (one - disc)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(topOrdersK)
  }

  val topOrdersSql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       |  COUNT(*) AS n_items
       |FROM ${Core.sqlLineitem} li
       |JOIN ${Core.sqlOrders} o ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE l_shipdate > TIMESTAMP '$topOrdersCutoff'
       |  AND o_orderdate < TIMESTAMP '$topOrdersCutoff'
       |  AND c_mktsegment = 'BUILDING'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT $topOrdersK""".stripMargin

  /** Data-quality constraint checking (the Deequ-style validation
    * stage a pipeline runs on every landed drop before spending
    * compute on it): one row per declared constraint with its
    * violation count. All five constraints evaluate in a single
    * aggregation pass over the table (sum-of-CASE partials combine
    * map-side; the uniqueness check rides the same pass as a distinct
    * count), then unpivot to the per-constraint report — constant
    * output size regardless of input scale. */
  def dataQuality(spark: SparkSession, dir: String): DataFrame =
    dataQualityFrom(Core.documents(spark, dir))

  /** The constraint pass over any documents-shaped frame — shared with
    * RegistrySpec's tampered-corpus assertions. */
  def dataQualityFrom(d: DataFrame): DataFrame = {
    val agg = d.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("v_null_id"),
      countDistinct(col("doc_id")).as("n_distinct_id"),
      sum(when(col("text").isNull || length(col("text")) === 0, 1L).otherwise(0L))
        .as("v_empty_text"),
      // explicit null policy (ADVICE r4): a constraint that cannot be
      // VERIFIED is a violation. Without the isNull arms, `<>` and
      // NOT IN yield NULL on null input and the otherwise(0) swallows
      // it — rows missing lang/n_chars/text would silently PASS the
      // very check that exists to catch incomplete rows. Oracle SQL
      // carries the identical CASE arms so both engines agree.
      sum(when(col("n_chars").isNull || col("text").isNull ||
          col("n_chars") =!= length(col("text")), 1L).otherwise(0L)).as("v_chars"),
      sum(when(col("lang").isNull ||
          !col("lang").isin("en", "de", "es", "fr", "zh"), 1L).otherwise(0L))
        .as("v_lang"))
    agg.select(col("n_rows"), expr(
      """stack(5,
        |  'doc_id_not_null', v_null_id,
        |  'doc_id_unique', n_rows - n_distinct_id - v_null_id,
        |  'text_nonempty', v_empty_text,
        |  'n_chars_consistent', v_chars,
        |  'lang_in_domain', v_lang) AS (constraint, n_violations)""".stripMargin))
      .select(col("constraint"), col("n_rows"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))
  }

  val dataQualitySql: String =
    """WITH a AS (
      |  SELECT count(*) AS n_rows,
      |    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS v_null_id,
      |    count(DISTINCT doc_id) AS n_distinct_id,
      |    sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS v_empty_text,
      |    sum(CASE WHEN n_chars IS NULL OR text IS NULL OR n_chars <> length(text) THEN 1 ELSE 0 END) AS v_chars,
      |    sum(CASE WHEN lang IS NULL OR lang NOT IN ('en','de','es','fr','zh') THEN 1 ELSE 0 END) AS v_lang
      |  FROM documents)
      |SELECT 'doc_id_not_null' AS constraint, n_rows, CAST(v_null_id AS BIGINT) AS n_violations, v_null_id = 0 AS pass FROM a
      |UNION ALL SELECT 'doc_id_unique', n_rows, CAST(n_rows - n_distinct_id - v_null_id AS BIGINT), n_rows - n_distinct_id - v_null_id = 0 FROM a
      |UNION ALL SELECT 'text_nonempty', n_rows, CAST(v_empty_text AS BIGINT), v_empty_text = 0 FROM a
      |UNION ALL SELECT 'n_chars_consistent', n_rows, CAST(v_chars AS BIGINT), v_chars = 0 FROM a
      |UNION ALL SELECT 'lang_in_domain', n_rows, CAST(v_lang AS BIGINT), v_lang = 0 FROM a""".stripMargin

  /** Large-volume orders (extension; the TPC-H Q18 shape): orders
    * whose total lineitem quantity exceeds a threshold, with customer
    * context. The HAVING-subquery becomes aggregate-then-join: the
    * quantity aggregate keys on l_orderkey and the join back keys on
    * the SAME column, so the aggregated side never re-shuffles
    * (contrast ngram_lm, where the count key and join key differ).
    * Executed-plan audit at sf0.1: the ONLY exchange is the quantity
    * aggregation; AQE broadcasts orders and customer against the
    * HAVING-filtered stream (2,285 of 147k orders survive). At
    * fact-scale orders the same plan hash-joins on the shared
    * orderkey partitioning instead of broadcasting. Decimal sums
    * keep the oracle exact. */
  private val bigOrdersMinQty = 250

  def bigOrders(spark: SparkSession, dir: String): DataFrame = {
    // spreadNarrowScan: the quantity partial-agg over the fact scan
    // runs pre-exchange — single-task on a narrow (one-row-group) file
    val li = Core.spreadNarrowScan(Core.lineitem(spark, dir))
    val o = Core.orders(spark, dir)
    val c = Core.customer(spark, dir)
    val qty = li.groupBy(col("l_orderkey"))
      .agg(sum(Core.dec2(col("l_quantity"))).as("total_qty"))
      .filter(col("total_qty") > bigOrdersMinQty)
    o.join(qty, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("total_qty").cast("double").as("total_qty"))
  }

  val bigOrdersSql: String =
    s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       |  CAST(total_qty AS DOUBLE) AS total_qty
       |FROM ${Core.sqlOrders} o
       |JOIN (
       |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > $bigOrdersMinQty
       |) q ON o_orderkey = l_orderkey
       |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Sessionization (extension): classic gap-based sessions — a new
    * session starts after a >30 min silence. Two window passes
    * partitioned BY USER (scales horizontally, unlike the
    * reference-parity global windows) then one aggregation; counts and
    * timestamp extremes only, so the oracle comparison is exact. The
    * streaming twin is StreamingPipeline.streamingSessions
    * (session_window). */
  private[graft] val sessionGapUs: Long = 30L * 60L * 1000000L // ONE constant, shared by engine and oracle

  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = sessionGapUs
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(w)
    val newSession = when(
      prevTs.isNull || unix_micros(col("ts")) - unix_micros(prevTs) > gapUs, 1L)
      .otherwise(0L)
    Core.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("new_s", newSession)
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  /** The sessions table as a reusable oracle CTE (shared by
    * user_sessions and overlapping_sessions). */
  private val sessionsCteSql: String =
    s"""WITH g AS (
       |  SELECT user_id, event_id, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $sessionGapUs
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM ${Core.sqlEvents}
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT user_id, ts,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM g),
       |sess AS (
       |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       |    count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
       |  FROM s GROUP BY 1, 2)""".stripMargin

  val userSessionsSql: String =
    s"""$sessionsCteSql
       |SELECT user_id, session_id, n_events, session_start, session_end
       |FROM sess""".stripMargin

  /** Interval-OVERLAP range join (the brief's "range join" named
    * operator, distinct from the point-in-window interval join J1):
    * concurrent sessions of different users. The scale technique is
    * bucket expansion — each session explodes to the 1-hour buckets it
    * touches, turning the pure inequality join into an equi join on
    * the bucket with the exact overlap predicate as a residual, then
    * pair dedup (a pair can share several buckets). A plain inequality
    * join would be a broadcast nested loop over all session pairs; the
    * bucket key makes it hash-partitionable at 100 TB. Overlap is
    * reported in exact integer microseconds. */
  def overlappingSessions(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val s = userSessions(spark, dir)
      .select(col("user_id"), col("session_id"),
        col("session_start"), col("session_end"))
    val withB = s.withColumn("bucket",
      explode(sequence(
        floor(unix_micros(col("session_start")) / lit(hourUs)).cast("long"),
        floor(unix_micros(col("session_end")) / lit(hourUs)).cast("long"))))
      // pin the pair-expansion width (r17): the self-join's required
      // distribution IS the bucket key, so this exchange replaces the
      // one the join plans anyway — but a USER-pinned partition count
      // stops AQE's input-byte coalescing from narrowing the quadratic
      // bucket expansion to 1-2 tasks (bytes IN say nothing about
      // pairs OUT; a per-job profile measured the join stage at 2 tasks
      // carrying ~80% of the query under AQE's advisory sizing)
      .repartition(spark.sparkContext.defaultParallelism, col("bucket"))
    withB.as("a").join(withB.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.user_id") < col("b.user_id") &&
          col("a.session_start") <= col("b.session_end") &&
          col("b.session_start") <= col("a.session_end"))
      .select(col("a.user_id").as("user_a"), col("a.session_id").as("session_a"),
        col("b.user_id").as("user_b"), col("b.session_id").as("session_b"),
        (least(unix_micros(col("a.session_end")), unix_micros(col("b.session_end"))) -
          greatest(unix_micros(col("a.session_start")), unix_micros(col("b.session_start"))))
          .as("overlap_us"))
      .distinct()
  }

  val overlappingSessionsSql: String =
    s"""$sessionsCteSql
       |SELECT a.user_id AS user_a, a.session_id AS session_a,
       |  b.user_id AS user_b, b.session_id AS session_b,
       |  least(epoch_us(a.session_end), epoch_us(b.session_end)) -
       |    greatest(epoch_us(a.session_start), epoch_us(b.session_start)) AS overlap_us
       |FROM sess a JOIN sess b
       |  ON a.user_id < b.user_id
       | AND a.session_start <= b.session_end
       | AND b.session_start <= a.session_end""".stripMargin

  /** S4 — the market-calendar gate (producer.py:215-243 +
    * getMarketData.py:251-257): the reference fetches a per-day market
    * calendar, checks today's `status == 'open'`, builds the session's
    * open/close datetimes (`market_hour_to_dt`), and only processes
    * data inside them. Re-expressed relationally: a derived trading
    * calendar (one row per date with open/close timestamps and an
    * is_open flag) left_semi-gates `events` to in-session rows.
    *
    * The calendar feed is external in the reference (Tradier HTTP);
    * with no network here the calendar is DERIVED deterministically
    * from the event dates — weekends closed, plus the 1st of each
    * month closed standing in for exchange holidays; open session
    * 09:30-16:00. The gate itself (semi-join against a calendar table
    * with an in-session range residual) is the operator under test
    * and is exactly what a real calendar table would plug into.
    *
    * Scale: the calendar is O(days) — trivially broadcast; the plan is
    * a broadcast left-semi hash join on the date key with the session
    * range as residual. Events never shuffle. */
  def marketCalendar(spark: SparkSession, dir: String): DataFrame =
    Core.events(spark, dir)
      .select(to_date(col("ts")).as("cal_date"))
      .distinct()
      .select(
        col("cal_date"),
        ((weekday(col("cal_date")) + lit(1)) <= 5 && dayofmonth(col("cal_date")) =!= 1)
          .as("is_open"),
        (to_timestamp(col("cal_date")) + expr("INTERVAL 570 MINUTES")).as("open_ts"),
        (to_timestamp(col("cal_date")) + expr("INTERVAL 960 MINUTES")).as("close_ts"))

  def calendarGate(spark: SparkSession, dir: String): DataFrame = {
    val cal = marketCalendar(spark, dir).filter(col("is_open"))
    Core.events(spark, dir).as("e")
      .join(broadcast(cal).as("c"),
        to_date(col("e.ts")) === col("c.cal_date") &&
          col("e.ts") >= col("c.open_ts") && col("e.ts") < col("c.close_ts"),
        "left_semi")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
  }

  val calendarGateSql: String =
    s"""WITH cal AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS cal_date FROM ${Core.sqlEvents}
       |), open_cal AS (
       |  SELECT cal_date,
       |    CAST(cal_date AS TIMESTAMP) + INTERVAL 570 MINUTE AS open_ts,
       |    CAST(cal_date AS TIMESTAMP) + INTERVAL 960 MINUTE AS close_ts
       |  FROM cal
       |  WHERE isodow(cal_date) <= 5 AND day(cal_date) <> 1
       |)
       |SELECT event_id, ts, user_id, event_type, value
       |FROM ${Core.sqlEvents} e
       |WHERE EXISTS (
       |  SELECT 1 FROM open_cal c
       |  WHERE CAST(e.ts AS DATE) = c.cal_date
       |    AND e.ts >= c.open_ts AND e.ts < c.close_ts)""".stripMargin

  /** The 100 TB form of [[distinctUsers]]: HyperLogLog++ sketches
    * (approx_count_distinct) — mergeable fixed-size state instead of a
    * per-group distinct set, so memory is O(groups), not O(distinct
    * values). Sketches are engine-specific -> no oracle; the spec
    * bounds its error against the exact count. */
  def approxDistinctUsers(spark: SparkSession, dir: String, rsd: Double = 0.05): DataFrame =
    Core.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users_approx"))

  override def queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "pricing_summary" -> (pricingSummary _),
    "distinct_users" -> (distinctUsers _),
    "value_quantiles" -> (valueQuantiles _),
    "revenue_rollup" -> (revenueRollup _),
    "top_orders" -> (topOrders _),
    "big_orders" -> (bigOrders _),
    "data_quality" -> (dataQuality _),
    "user_sessions" -> (userSessions _),
    "overlapping_sessions" -> (overlappingSessions _),
    "revenue_by_nation" -> (revenueByNation _),
    "latest_point" -> (latestPoint _),
    "dedup_rows" -> (dedupRows _),
    "anti_join_new" -> (antiJoinNew _),
    "calendar_gate" -> (calendarGate _),
    "template_fill" -> (templateFill _),
    "json_decode" -> (jsonDecode _),
    "stale_filter" -> (staleFilter _),
    "restamp_guard" -> (restampGuard _))

  override def oracle: Seq[(String, String)] = Seq(
    "pricing_summary" -> pricingSummarySql,
    "distinct_users" -> distinctUsersSql,
    "value_quantiles" -> valueQuantilesSql,
    "revenue_rollup" -> revenueRollupSql,
    "top_orders" -> topOrdersSql,
    "big_orders" -> bigOrdersSql,
    "data_quality" -> dataQualitySql,
    "user_sessions" -> userSessionsSql,
    "overlapping_sessions" -> overlappingSessionsSql,
    "revenue_by_nation" -> revenueByNationSql,
    "latest_point" -> latestPointSql,
    "dedup_rows" -> dedupRowsSql,
    "anti_join_new" -> antiJoinNewSql,
    "calendar_gate" -> calendarGateSql,
    "template_fill" -> templateFillSql,
    "json_decode" -> jsonDecodeSql,
    "stale_filter" -> staleFilterSql,
    "restamp_guard" -> restampGuardSql)
}
