package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-mixture shaping: the source/language rebalancing layer a
  * pre-training pipeline runs between dedup and tokenization (builder
  * brief "operations a large-scale training-data pipeline would need").
  * Three ops over `documents`:
  *
  *   - [[sourceCaps]]      — per-source quota capping (the C4/RefinedWeb
  *                           "at most K pages per domain" rule)
  *   - [[temperatureSample]] — multinomial temperature rebalancing of the
  *                           language mixture (the XLM-R/mT5 alpha-sampling
  *                           step), the soft variant of TextDedup's hard
  *                           [[TextDedup.stratifiedSample]] flattening
  *   - [[sourceSimilarity]] — pairwise source-overlap estimation from
  *                           bottom-k shingle sketches (which sources are
  *                           mirrors of each other BEFORE paying for a
  *                           cross-source dedup pass)
  *
  * Everything is deterministic (content-hash gates, hash-ordered ranks),
  * so results are reproducible run-to-run and every op hash-matches its
  * DuckDB oracle.
  */
object Mixture extends QueryModule {

  // --- per-source quota caps ----------------------------------------------

  /** Keep at most `capK` documents per source, selected by content-hash
    * rank (a reproducible uniform sample of the source, vs "first K by
    * id" which would bias toward old pages). Emits every document with
    * its in-source rank and the keep decision, so downstream stages can
    * filter on `kept` while audits see what was dropped.
    *
    * Scale shape: one hash-partitioned window per source — sources
    * parallelize across executors. A pathological mega-domain collapses
    * its partition to one task; the standard mitigation (pre-cap each
    * map partition to its local top-K before the shuffle, valid because
    * the global top-K per key is a subset of the per-partition top-Ks)
    * applies but only pays off when one domain exceeds an executor, so
    * the direct window is the registered form. */
  private[ops] val capK = 15

  def sourceCaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    Core.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.functions.poly_hash(col("text")).as("h"))
      .withColumn("src_rank", row_number().over(w))
      .select(col("doc_id"), col("source"), col("src_rank"),
        when(col("src_rank") <= capK, 1).otherwise(0).as("kept"))
  }

  val sourceCapsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, ${TextDedup.charHashSql("text")} AS h FROM documents),
       |r AS (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS src_rank
       |  FROM d)
       |SELECT doc_id, source, CAST(src_rank AS INTEGER) AS src_rank,
       |  CAST(CASE WHEN src_rank <= $capK THEN 1 ELSE 0 END AS INTEGER) AS kept
       |FROM r""".stripMargin

  // --- temperature-based language rebalancing ------------------------------

  /** Multinomial temperature sampling over the language mixture: keep
    * rate r_l = (n_min / n_l)^alpha with alpha = 0.5, so the mixture is
    * flattened TOWARD uniform without collapsing to the smallest
    * language (r = 1 for the smallest; a 9x-larger language keeps 1/3
    * of its docs instead of stratifiedSample's 1/9). alpha = 0.5 is
    * chosen over XLM-R's 0.3 deliberately: it makes the rate a sqrt of
    * an exact ratio — sqrt and division are IEEE-correctly-rounded in
    * both engines, so the keep gate is bit-identical, whereas pow(x,0.3)
    * carries no cross-engine rounding guarantee.
    *
    * The gate itself is the same content-hash threshold as
    * [[TextDedup.stratifiedSample]] (membership decidable per-row, no
    * global state); the plan is one scan + a tiny per-language count
    * broadcast back — nothing shuffles at corpus scale. */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (graft.functions.poly_hash(col("text")) % lit(1000000L)).as("h"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val minc = counts.agg(min(col("n_lang")).as("n_min"))
    docs.join(broadcast(counts), "lang").crossJoin(broadcast(minc))
      .withColumn("keep_rate",
        sqrt(col("n_min").cast("double") / col("n_lang").cast("double")))
      .groupBy(col("lang"), col("n_lang"), col("keep_rate"))
      .agg(sum(when(col("h").cast("double") < col("keep_rate") * lit(1000000.0), 1L)
        .otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_lang"), col("keep_rate"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_lang").cast("double")).as("kept_fraction"))
  }

  val temperatureSampleSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, lang, ${TextDedup.charHashSql("text")} % 1000000 AS h FROM documents),
       |counts AS (SELECT lang, count(*) AS n_lang FROM docs GROUP BY 1),
       |m AS (SELECT min(n_lang) AS n_min FROM counts)
       |SELECT lang, n_lang,
       |  sqrt(CAST(n_min AS DOUBLE) / CAST(n_lang AS DOUBLE)) AS keep_rate,
       |  CAST(sum(CASE WHEN CAST(h AS DOUBLE) <
       |    sqrt(CAST(n_min AS DOUBLE) / CAST(n_lang AS DOUBLE)) * 1000000.0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN CAST(h AS DOUBLE) <
       |    sqrt(CAST(n_min AS DOUBLE) / CAST(n_lang AS DOUBLE)) * 1000000.0
       |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(n_lang AS DOUBLE) AS kept_fraction
       |FROM docs JOIN counts USING (lang) CROSS JOIN m
       |GROUP BY lang, n_lang, keep_rate""".stripMargin

  // --- pairwise source similarity from bottom-k sketches --------------------

  /** Which sources substantially overlap (mirror sites, re-crawls,
    * shared templates)? Estimated WITHOUT a cross-source document join:
    * each source is summarized by its bottom-k sketch (the `skK`
    * smallest distinct shingle hashes — a fixed-size uniform sample of
    * the source's shingle set), and for each source pair the standard
    * bottom-k union estimator runs over sketches alone:
    * J(A,B) ~ |{h in bottom-k(skA u skB) : h in skA and h in skB}| / k.
    *
    * Scale shape: the only corpus-sized work is the per-source distinct
    * shingle hash (one shuffle) + a bottom-k window over distinct hashes;
    * the sketch table is skK rows per source regardless of corpus size,
    * so the pairwise stage — broadcast equi-joins of the pair list
    * against the sketch table, never a doc-level join — is O(sources^2
    * * k) and independent of the 100 TB. The estimator is unbiased with
    * s.e. ~ 1/sqrt(k) ~ 0.125 at k=64 (documented; MixtureSpec asserts
    * the planted-overlap ordering survives it). */
  private[ops] val skK = 64

  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame =
    sourceSimilarityFrom(Core.documents(spark, dir))

  /** The distinct (source, shingle-hash) frame every source-statistics
    * op starts from — ONE rule shared by the similarity sketch, its
    * exact calibration twin, and the KMV distinct estimator, so the
    * three stay comparable by construction (the calibration claims
    * depend on it). The matching SQL fragment is [[srcDnSql]]. */
  private def sourceShingleHashes(docs: DataFrame): DataFrame =
    // deliberately NOT spreadNarrowScan'd (r17 — measured, then
    // reverted): the distinct() shuffle directly after the explode
    // dominates these ops, so the fan-out only added an exchange +
    // wider task scheduling (zero-steal QBench: source_overlap_exact
    // first-rep 1.46 -> 2.4s with the spread)
    TextDedup.withNgramArr(docs)
      .select(col("source"), explode(array_distinct(col("ngarr"))).as("ng"))
      .select(col("source"), graft.functions.poly_hash(col("ng")).as("h"))
      .distinct()

  /** DuckDB twin of [[sourceShingleHashes]], used as `dn` in the three
    * source-statistics oracles. */
  private def srcDnSql: String =
    s"""SELECT DISTINCT source, ${TextDedup.charHashSql("ng")} AS h FROM (
       |    SELECT source, unnest(list_distinct(${TextDedup.ngramsSql})) AS ng FROM documents)"""
      .stripMargin

  /** The sketch + estimator core over any (source, text) frame — shared
    * with MixtureSpec's planted-mirror and half-overlap assertions. */
  def sourceSimilarityFrom(docs: DataFrame): DataFrame = {
    val dn = sourceShingleHashes(docs)
    val w = Window.partitionBy(col("source")).orderBy(col("h"))
    val sk = dn.withColumn("r", row_number().over(w)).filter(col("r") <= skK)
      .select(col("source"), col("h"))
    val srcs = sk.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .join(srcs.select(col("source").as("src_b")), col("src_a") < col("src_b"))
    val ua = pairs.join(broadcast(sk).withColumnRenamed("source", "src_a"), "src_a")
      .select(col("src_a"), col("src_b"), col("h"), lit(1).as("in_a"), lit(0).as("in_b"))
    val ub = pairs.join(broadcast(sk).withColumnRenamed("source", "src_b"), "src_b")
      .select(col("src_a"), col("src_b"), col("h"), lit(0).as("in_a"), lit(1).as("in_b"))
    val u = ua.unionByName(ub)
      .groupBy(col("src_a"), col("src_b"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val wp = Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))
    u.withColumn("r", row_number().over(wp)).filter(col("r") <= skK)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("k_union"),
        sum((col("in_a") * col("in_b")).cast("long")).as("n_both"))
      .select(col("src_a"), col("src_b"), col("k_union"), col("n_both"),
        (col("n_both").cast("double") / col("k_union").cast("double")).as("jaccard_est"))
  }

  val sourceSimilaritySql: String = {
    s"""WITH dn AS ($srcDnSql),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS r FROM dn)
       |  WHERE r <= $skK),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b
       |  FROM srcs a JOIN srcs b ON a.source < b.source),
       |u AS (
       |  SELECT src_a, src_b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
       |    SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
       |    FROM pairs p JOIN sk s ON s.source = p.src_a
       |    UNION ALL
       |    SELECT p.src_a, p.src_b, s.h, 0 AS in_a, 1 AS in_b
       |    FROM pairs p JOIN sk s ON s.source = p.src_b)
       |  GROUP BY 1, 2, 3),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS r FROM u)
       |SELECT src_a, src_b,
       |  CAST(count(*) AS BIGINT) AS k_union,
       |  CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
       |  CAST(sum(in_a * in_b) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS jaccard_est
       |FROM rk WHERE r <= $skK
       |GROUP BY 1, 2""".stripMargin
  }

  // --- per-source distribution drift --------------------------------------

  /** Width of the fixed n_chars histogram buckets. Fixed-width (not
    * quantile) binning keeps the statistic SQL-exact: quantile edges
    * would themselves be data-derived doubles whose cross-engine
    * equality is the fragile thing the parity rules exist to avoid. */
  private val driftBucketChars = 100.0

  /** Distribution DRIFT monitoring — the corpus-health check a 100 TB
    * ingest pipeline runs per source per day: how far does each
    * source's document-length histogram and language mix sit from the
    * corpus-wide baseline? A source whose drift jumps between ingests
    * changed its crawler, its upstream site, or its parser — the
    * operational signal that gates a mixture re-weight or a quarantine
    * (complements [[Relational.dataQuality]]'s hard constraints:
    * drift is the SOFT, distributional quality gate).
    *
    * Statistic: total-variation distance, TVD = 1/2 * sum_i |q_i -
    * p_i| (q = the source's bucket shares, p = the corpus baseline) —
    * chosen over the industry-default PSI deliberately: PSI's ln() is
    * a transcendental whose last-ulp behavior differs across engines
    * (the repo's standing parity rule bans them), while TVD reduces
    * to ONE integer sum per source, sum_i |n_si * N - n_i * n_s|,
    * followed by a single exact double division — bit-identical in
    * any engine. TVD in [0, 1]; missing buckets contribute their full
    * baseline mass (the grid join below makes the zero cells
    * explicit).
    *
    * Scale shape: two corpus-scale aggregations with bounded key
    * cardinality (sources x buckets, sources x langs) and map-side
    * partial counts; everything after operates on those ~100-row
    * aggregates (the grid crosses are broadcast joins of
    * bounded-cardinality frames — allowlisted with justification in
    * PlanAuditSpec). Overflow note: the integer products are
    * n_si * N <= N^2, so the exact-long tree holds to N ~ 3e9 docs
    * per drift scope; shard the scope (per day / per corpus slice)
    * beyond that. */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame =
    sourceDriftFrom(Core.documents(spark, dir))

  /** Core over an arbitrary documents frame (spec injects skewed
    * sources to prove detection; [[sourceDrift]] binds the corpus). */
  private[graft] def sourceDriftFrom(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("source"), col("lang"),
      floor(col("n_chars") / lit(driftBucketChars)).cast("long").as("bucket"))
    val sb = docs.groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("n_sb"))
    val sl = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_sl"))
    val s = sb.groupBy(col("source")).agg(sum(col("n_sb")).as("n_s"))
    val b = sb.groupBy(col("bucket")).agg(sum(col("n_sb")).as("n_b"))
    val l = sl.groupBy(col("lang")).agg(sum(col("n_sl")).as("n_l"))
    val tot = sb.agg(sum(col("n_sb")).as("n_total"))
    val cc = s.crossJoin(broadcast(b)).crossJoin(broadcast(tot))
      .join(sb, Seq("source", "bucket"), "left")
      .groupBy(col("source"), col("n_s"), col("n_total"))
      .agg(sum(abs(coalesce(col("n_sb"), lit(0L)) * col("n_total") -
        col("n_b") * col("n_s"))).as("sa_chars"))
    val lc = s.crossJoin(broadcast(l)).crossJoin(broadcast(tot))
      .join(sl, Seq("source", "lang"), "left")
      .groupBy(col("source"))
      .agg(sum(abs(coalesce(col("n_sl"), lit(0L)) * col("n_total") -
        col("n_l") * col("n_s"))).as("sa_lang"))
    cc.join(lc, "source")
      .select(col("source"), col("n_s").as("n_docs"),
        (col("sa_chars").cast("double") /
          (col("n_s") * col("n_total")).cast("double") / lit(2.0)).as("tvd_chars"),
        (col("sa_lang").cast("double") /
          (col("n_s") * col("n_total")).cast("double") / lit(2.0)).as("tvd_lang"))
  }

  val sourceDriftSql: String =
    s"""WITH d AS (
       |  SELECT source, lang, CAST(FLOOR(n_chars / $driftBucketChars) AS BIGINT) AS bucket
       |  FROM documents),
       |sb AS (SELECT source, bucket, count(*) AS n_sb FROM d GROUP BY 1, 2),
       |sl AS (SELECT source, lang, count(*) AS n_sl FROM d GROUP BY 1, 2),
       |s AS (SELECT source, sum(n_sb) AS n_s FROM sb GROUP BY 1),
       |b AS (SELECT bucket, sum(n_sb) AS n_b FROM sb GROUP BY 1),
       |l AS (SELECT lang, sum(n_sl) AS n_l FROM sl GROUP BY 1),
       |tot AS (SELECT sum(n_sb) AS n_total FROM sb),
       |cc AS (
       |  SELECT g.source, g.n_s, g.n_total,
       |    sum(abs(coalesce(sb.n_sb, 0) * g.n_total - g.n_b * g.n_s)) AS sa_chars
       |  FROM (SELECT s.source, s.n_s, b.bucket, b.n_b, t.n_total
       |        FROM s CROSS JOIN b CROSS JOIN tot t) g
       |  LEFT JOIN sb ON sb.source = g.source AND sb.bucket = g.bucket
       |  GROUP BY 1, 2, 3),
       |lc AS (
       |  SELECT g.source,
       |    sum(abs(coalesce(sl.n_sl, 0) * g.n_total - g.n_l * g.n_s)) AS sa_lang
       |  FROM (SELECT s.source, s.n_s, l.lang, l.n_l, t.n_total
       |        FROM s CROSS JOIN l CROSS JOIN tot t) g
       |  LEFT JOIN sl ON sl.source = g.source AND sl.lang = g.lang
       |  GROUP BY 1)
       |SELECT cc.source, CAST(cc.n_s AS BIGINT) AS n_docs,
       |  CAST(sa_chars AS DOUBLE) / CAST(cc.n_s * cc.n_total AS DOUBLE) / 2.0 AS tvd_chars,
       |  CAST(sa_lang AS DOUBLE) / CAST(cc.n_s * cc.n_total AS DOUBLE) / 2.0 AS tvd_lang
       |FROM cc JOIN lc ON lc.source = cc.source""".stripMargin

  // --- persisted drift baseline + batch/streaming probes -------------------

  /** Persist the corpus-wide distributions [[sourceDrift]] compares
    * against — the cross-batch lifecycle for the MIXTURE family,
    * completing the pattern the three persisted indexes follow
    * (exact-digest, simhash, IVF): a periodic batch job publishes the
    * baseline, ingests and streams probe against it. Layout: one tiny
    * parquet with a `kind` discriminator — char-bucket counts
    * (kind='chars', key=bucket), language counts (kind='lang',
    * key=lang), and the corpus total (kind='total') — a few dozen
    * rows regardless of corpus size, so every probe broadcasts it.
    * DELETE posture (contrast the row-keyed indexes' tombstone
    * sidecars): the baseline AGGREGATES counts over
    * documents, so a per-doc takedown has no stored counts to
    * subtract — forgetting a document means rebuilding (or
    * re-merging per-slice baselines without the affected slice);
    * there is deliberately no tombstone path here. */
  def writeDriftBaseline(spark: SparkSession, dir: String, outDir: String): Unit =
    writeDriftBaselineFrom(Core.documents(spark, dir), outDir)

  private[graft] def writeDriftBaselineFrom(docs0: DataFrame, outDir: String): Unit = {
    val docs = docs0.select(col("lang"),
      floor(col("n_chars") / lit(driftBucketChars)).cast("long").as("bucket"))
    val b = docs.groupBy("bucket").agg(count(lit(1)).as("n"))
      .select(lit("chars").as("kind"), col("bucket").cast("string").as("key"), col("n"))
    val l = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .select(lit("lang").as("kind"), col("lang").as("key"), col("n"))
    val t = docs.agg(count(lit(1)).as("n"))
      .select(lit("total").as("kind"), lit("").as("key"), col("n"))
    IndexStore.write(driftLayout, b.unionByName(l).unionByName(t), outDir)
  }

  /** The drift baseline layout: (kind, key, n) count rows in one file.
    * Every kind is a plain count, so a merge sums per (kind, key). */
  private[ops] val driftLayout = IndexStore.Layout(Seq("kind", "key", "n"),
    writer = _.coalesce(1).write,
    fold = _.groupBy("kind", "key").agg(sum(col("n")).as("n")))

  /** MERGE persisted drift baselines over DISJOINT corpus slices — all
    * three kinds (char buckets, language counts, the total) are plain
    * counts, so per-slice baselines sum into exactly the full-rebuild
    * baseline (spec-asserted). Same disjointness contract as
    * [[mergeVocabIndexes]]. */
  def mergeDriftBaselines(spark: SparkSession, baselineDirs: Seq[String],
      outDir: String): Unit =
    IndexStore.merge(spark, driftLayout, baselineDirs, outDir, "mergeDriftBaselines")

  /** Probe a NEW batch of documents against the persisted baseline:
    * per batch source, the total-variation distance of its char-bucket
    * and language distributions from the CORPUS the baseline was built
    * on — the ingest-time canary that flags a source whose latest
    * crawl suddenly ships a different language mix or length profile
    * than the curated corpus. Same integer-exact TVD as [[sourceDrift]]
    * (|n_sk*n_total - n_k*n_s| summed, divided once at the end), over
    * the UNION of batch and baseline keys: a batch-only bucket
    * contributes its full batch mass, a baseline-only bucket its full
    * corpus mass — dropping either side would understate drift.
    *
    * Plan shape: the baseline is a few dozen rows (broadcast); the
    * only batch-sized work is one groupBy(source, kind, key). Nothing
    * corpus-sized is touched at probe time at all — at 100 TB the
    * probe cost is the batch's, not the corpus's. */
  def probeDriftBaseline(spark: SparkSession, batch: DataFrame,
      baselineDir: String): DataFrame = {
    val base = IndexStore.read(spark, driftLayout, baselineDir)
    val nTotal = base.filter(col("kind") === "total")
      .select(col("n")).head().getLong(0)
    val baseKeys = base.filter(col("kind") =!= "total")
      .select(col("kind"), col("key"), col("n").as("n_k"))
    val docs = batch.select(col("source"), col("lang"),
      floor(col("n_chars") / lit(driftBucketChars)).cast("long").as("bucket"))
    val sCounts = docs
      .select(col("source"), lit("chars").as("kind"),
        col("bucket").cast("string").as("key"))
      .unionByName(docs.select(col("source"), lit("lang").as("kind"),
        col("lang").as("key")))
      .groupBy(col("source"), col("kind"), col("key"))
      .agg(count(lit(1)).as("n_sk"))
    val sTotals = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    // baseline-key rows per source (left join brings batch mass where
    // present), plus batch-only keys the baseline has never seen
    val onBase = sTotals.crossJoin(broadcast(baseKeys))
      .join(sCounts, Seq("source", "kind", "key"), "left")
      .select(col("source"), col("kind"), col("n_s"),
        coalesce(col("n_sk"), lit(0L)).as("n_sk"), col("n_k"))
    val extras = sCounts.join(broadcast(baseKeys), Seq("kind", "key"), "left_anti")
      .join(sTotals, "source")
      .select(col("source"), col("kind"), col("n_s"), col("n_sk"), lit(0L).as("n_k"))
    onBase.unionByName(extras)
      .groupBy(col("source"), col("n_s"))
      .agg(
        sum(when(col("kind") === "chars",
          abs(col("n_sk") * lit(nTotal) - col("n_k") * col("n_s")))
          .otherwise(lit(0L))).as("sa_chars"),
        sum(when(col("kind") === "lang",
          abs(col("n_sk") * lit(nTotal) - col("n_k") * col("n_s")))
          .otherwise(lit(0L))).as("sa_lang"))
      .select(col("source"), col("n_s").as("n_docs"),
        (col("sa_chars").cast("double") /
          (col("n_s") * lit(nTotal)).cast("double") / lit(2.0)).as("tvd_chars"),
        (col("sa_lang").cast("double") /
          (col("n_s") * lit(nTotal)).cast("double") / lit(2.0)).as("tvd_lang"))
  }

  /** REGISTERED exercise of the drift-baseline lifecycle under the
    * oracle gate — the first CORRECTNESS entry for BOTH
    * [[probeDriftBaseline]] (previously unit/streaming-only) and
    * [[mergeDriftBaselines]] (the last merge step without one): three
    * corpus slices (doc_id % 4 = 0/1/2) publish baselines separately,
    * count-sum merged, and the remainder's per-source TVD probed
    * against the merged baseline. The oracle recomputes the probe's
    * exact integer TVD tree (|n_sk*N - n_k*n_s| over the union of
    * baseline and batch keys, one double division at the end — the
    * [[sourceDrift]] parity rule) with the baseline derived from a
    * flat union of the slices: counts are additive over disjoint
    * slices, and the hash match proves it through the parquet
    * round-trip. */
  def driftBaselineMergeProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
    val merged = IndexStore.mergedSlices("drift_baseline_merged", dir, docs)(
      writeDriftBaselineFrom)(mergeDriftBaselines(spark, _, _))
    probeDriftBaseline(spark, docs.filter(col("doc_id") % 4 === 3), merged)
  }

  val driftBaselineMergeProbeSql: String = {
    val idxPred = "doc_id % 4 < 3"
    val batchPred = "doc_id % 4 = 3"
    s"""WITH bld AS (
       |  SELECT lang, CAST(FLOOR(n_chars / $driftBucketChars) AS BIGINT) AS bucket
       |  FROM documents WHERE $idxPred),
       |bl AS (
       |  SELECT 'chars' AS kind, CAST(bucket AS VARCHAR) AS key, count(*) AS n_k
       |  FROM bld GROUP BY 2
       |  UNION ALL
       |  SELECT 'lang' AS kind, lang AS key, count(*) AS n_k FROM bld GROUP BY 2),
       |tot AS (SELECT count(*) AS n_total FROM bld),
       |bd AS (
       |  SELECT source, lang, CAST(FLOOR(n_chars / $driftBucketChars) AS BIGINT) AS bucket
       |  FROM documents WHERE $batchPred),
       |sc AS (
       |  SELECT source, 'chars' AS kind, CAST(bucket AS VARCHAR) AS key, count(*) AS n_sk
       |  FROM bd GROUP BY 1, 3
       |  UNION ALL
       |  SELECT source, 'lang' AS kind, lang AS key, count(*) AS n_sk FROM bd GROUP BY 1, 3),
       |st AS (SELECT source, count(*) AS n_s FROM bd GROUP BY 1),
       |onbase AS (
       |  SELECT st.source, bl.kind, st.n_s, coalesce(sc.n_sk, 0) AS n_sk, bl.n_k
       |  FROM st CROSS JOIN bl
       |  LEFT JOIN sc ON sc.source = st.source AND sc.kind = bl.kind AND sc.key = bl.key),
       |extras AS (
       |  SELECT sc.source, sc.kind, st.n_s, sc.n_sk, 0 AS n_k
       |  FROM sc JOIN st ON st.source = sc.source
       |  LEFT JOIN bl ON bl.kind = sc.kind AND bl.key = sc.key
       |  WHERE bl.kind IS NULL),
       |u AS (SELECT * FROM onbase UNION ALL SELECT * FROM extras)
       |SELECT u.source, CAST(u.n_s AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN u.kind = 'chars'
       |    THEN abs(u.n_sk * t.n_total - u.n_k * u.n_s) ELSE 0 END) AS DOUBLE)
       |    / CAST(u.n_s * t.n_total AS DOUBLE) / 2.0 AS tvd_chars,
       |  CAST(sum(CASE WHEN u.kind = 'lang'
       |    THEN abs(u.n_sk * t.n_total - u.n_k * u.n_s) ELSE 0 END) AS DOUBLE)
       |    / CAST(u.n_s * t.n_total AS DOUBLE) / 2.0 AS tvd_lang
       |FROM u CROSS JOIN tot t
       |GROUP BY u.source, u.n_s, t.n_total""".stripMargin
  }

  /** STREAMING drift canary: incoming document drops probed against
    * the persisted baseline per micro-batch, per-source TVD rows
    * landed idempotently per batch_id (the K1 sink rule). The baseline
    * stays immutable during the stream and is republished by the
    * periodic batch rebuild — the same split as the dedup/simhash/IVF
    * index probes, for the same reason: a mutable in-stream baseline
    * would both serialize batches through a write and make drift
    * self-referential (today's skewed batch polluting the yardstick
    * it is measured against). */
  def streamingDriftProbe(spark: SparkSession, incoming: DataFrame,
      baselineDir: String, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingPipeline.probeStream(incoming, outDir, checkpoint) {
      (batch, _, _) => probeDriftBaseline(spark, batch, baselineDir)
    }

  // --- persisted-baseline mixture gate -------------------------------------

  /** The APPLY side of temperature rebalancing at ingest time: gate each
    * incoming document by the keep rate its language earns under the
    * PERSISTED corpus baseline ([[writeDriftBaseline]]'s lang rows) —
    * the same artifact that feeds the drift canary now also drives the
    * mixture gate, so one periodic batch job publishes one baseline and
    * every ingest consumes it twice. Rate = sqrt(n_min / n_lang), the
    * identical correctly-rounded arithmetic as [[temperatureSample]];
    * the gate is the same content-hash threshold, so gating the corpus
    * against its own baseline reproduces temperatureSample's kept
    * counts exactly (spec-asserted). A language the baseline has never
    * seen keeps everything (rate 1.0): an unseen language is by
    * definition the most under-represented class, and the next baseline
    * republish prices it properly.
    *
    * Plan shape: map-side only — the baseline is a few dozen broadcast
    * rows and the verdict is a per-row expression; nothing shuffles,
    * nothing corpus-sized is read at probe time. The cheapest possible
    * streaming operator. */
  def probeMixtureGate(spark: SparkSession, batch: DataFrame,
      baselineDir: String): DataFrame = {
    val langs = IndexStore.read(spark, driftLayout, baselineDir)
      .filter(col("kind") === "lang")
      .select(col("key").as("lang"), col("n").as("n_lang"))
    val minc = langs.agg(min(col("n_lang")).as("n_min"))
    val rate = when(col("n_lang").isNull, lit(1.0))
      .otherwise(sqrt(col("n_min").cast("double") / col("n_lang").cast("double")))
    batch.select(col("doc_id"), col("lang"),
        (graft.functions.poly_hash(col("text")) % lit(1000000L)).as("h"))
      .join(broadcast(langs), Seq("lang"), "left")
      .crossJoin(broadcast(minc))
      .withColumn("keep_rate", rate)
      .select(col("doc_id"), col("lang"), col("keep_rate"),
        when(col("h").cast("double") < col("keep_rate") * lit(1000000.0), 1)
          .otherwise(0).as("kept"))
  }

  /** STREAMING ingest-time mixture gate: per micro-batch, every incoming
    * document's keep verdict against the persisted baseline, landed
    * idempotently per batch_id (audit rows carry the drops too — the
    * loader filters kept=1). Immutable-baseline split as the other
    * persisted probes: the gate never updates the counts it reads, so
    * batches are embarrassingly parallel and a skewed burst cannot
    * re-price itself mid-stream. */
  def streamingMixtureGate(spark: SparkSession, incoming: DataFrame,
      baselineDir: String, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingPipeline.probeStream(incoming, outDir, checkpoint) {
      (batch, _, _) => probeMixtureGate(spark, batch, baselineDir)
    }

  /** Registered CROSS-BATCH form under the hash gate (the index-probe
    * pattern, TextDedup.dedupIndexProbe): publish the baseline from the
    * even-doc_id half of the corpus, gate the odd half against it —
    * genuinely cross-batch rates, round-tripped through the parquet
    * baseline. */
  def mixtureGateProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
    val baseDir = IndexStore.evenHalf("mixture_gate", dir, docs)(writeDriftBaselineFrom)
    probeMixtureGate(spark, docs.filter(col("doc_id") % 2 === 1), baseDir)
  }

  val mixtureGateProbeSql: String = {
    val rate = """CASE WHEN base.n_lang IS NULL THEN 1.0
                 | ELSE sqrt(CAST(n_min AS DOUBLE) / CAST(n_lang AS DOUBLE)) END"""
      .stripMargin.replace("\n", " ")
    s"""WITH base AS (
       |  SELECT lang, count(*) AS n_lang FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
       |m AS (SELECT min(n_lang) AS n_min FROM base),
       |b AS (
       |  SELECT doc_id, lang, ${TextDedup.charHashSql("text")} % 1000000 AS h
       |  FROM documents WHERE doc_id % 2 = 1)
       |SELECT b.doc_id, b.lang, $rate AS keep_rate,
       |  CAST(CASE WHEN CAST(h AS DOUBLE) < ($rate) * 1000000.0
       |    THEN 1 ELSE 0 END AS INTEGER) AS kept
       |FROM b LEFT JOIN base USING (lang) CROSS JOIN m""".stripMargin
  }

  // --- persisted vocabulary index + OOV probe -------------------------------

  /** Persist the corpus VOCABULARY — every distinct whitespace token
    * with its document frequency — as the reference the ingest-time
    * out-of-vocabulary probe joins against. The operational form of
    * [[vocabGrowth]]: the growth curve says how fast vocabulary grew
    * while curating; this index prices each NEW batch against the
    * vocabulary that curation settled on. One distinct-token shuffle
    * (map-side partial counts) at build time; vocabulary is sublinear
    * in corpus size (Heaps' law), so the index is orders of magnitude
    * smaller than the corpus it summarizes. DELETE posture:
    * document frequencies are aggregates — a per-doc takedown has no
    * stored counts to subtract, so forgetting means rebuilding (or
    * re-merging per-slice indexes without the affected slice); there
    * is deliberately no tombstone path here, unlike the row-keyed
    * digest/simhash/IVF/cluster families. */
  def writeVocabIndex(spark: SparkSession, dir: String, outDir: String): Unit =
    writeVocabIndexFrom(Core.documents(spark, dir), outDir)

  private[graft] def writeVocabIndexFrom(docs: DataFrame, outDir: String): Unit =
    // deliberately NOT spreadNarrowScan'd: the distinct() + count
    // shuffles dominate, so fanning the token explode only adds one
    IndexStore.write(vocabLayout,
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct() // per-doc dedup first, so df is a true DOCUMENT frequency
        .groupBy("tok").agg(count(lit(1)).as("df")), outDir)

  /** The vocabulary index layout: one (tok, df) row per distinct
    * token. Document frequencies over disjoint slices sum. */
  private[ops] val vocabLayout = IndexStore.Layout(Seq("tok", "df"),
    fold = _.groupBy("tok").agg(sum(col("df")).as("df")))

  /** MERGE persisted vocabulary indexes — the incremental rebuild for
    * the vocab family (the [[TextDedup.mergeDedupIndexes]] lifecycle):
    * document frequencies over DISJOINT corpus slices sum, so merging
    * per-slice indexes equals a full rebuild over the combined corpus
    * (spec-asserted). Shuffles vocabulary rows only — sublinear in
    * the corpora behind them (Heaps' law). Slices must be disjoint
    * (each document indexed exactly once); re-indexing an overlapping
    * slice double-counts its df mass, the same contract a COUNT
    * sketch merge carries. */
  def mergeVocabIndexes(spark: SparkSession, indexDirs: Seq[String],
      outDir: String): Unit =
    IndexStore.merge(spark, vocabLayout, indexDirs, outDir, "mergeVocabIndexes")

  /** Probe a batch against the persisted vocabulary: per batch source,
    * total token occurrences, distinct types, the types/occurrences the
    * vocabulary has never seen, and the OOV rate (share of occurrences
    * that are out-of-vocabulary) — the ingest canary for a source that
    * suddenly ships a different vocabulary (new language, parser
    * breakage, spam injection), complementing [[probeDriftBaseline]]'s
    * length/language axes with a CONTENT axis.
    *
    * Plan shape: the batch explodes to its token stream, aggregates to
    * per-(source, token) counts, and LEFT-joins the index on token — an
    * equi-join shuffled on the token key, linear in batch vocabulary
    * and index size, never in corpus size. A 100 TB deployment buckets
    * the index by token (ScaleOps.writeBucketed) to make the probe
    * join shuffle-free on the index side. */
  def probeVocabIndex(spark: SparkSession, batch: DataFrame,
      indexDir: String): DataFrame = {
    val idx = IndexStore.read(spark, vocabLayout, indexDir).select(col("tok"), lit(1).as("known"))
    batch.select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n_occ"))
      .join(idx, Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(sum(col("n_occ")).as("n_occurrences"),
        count(lit(1)).as("n_types"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_new_types"),
        sum(when(col("known").isNull, col("n_occ")).otherwise(lit(0L)))
          .as("n_new_occurrences"))
      .withColumn("oov_rate",
        col("n_new_occurrences").cast("double") / col("n_occurrences").cast("double"))
  }

  /** STREAMING OOV canary: per micro-batch, each source's vocabulary
    * novelty against the persisted index, landed idempotently per
    * batch_id. Immutable-index split as every persisted probe here:
    * the stream never grows the vocabulary it is measured against —
    * the periodic batch rebuild does. */
  def streamingVocabProbe(spark: SparkSession, incoming: DataFrame,
      indexDir: String, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingPipeline.probeStream(incoming, outDir, checkpoint) {
      (batch, _, _) => probeVocabIndex(spark, batch, indexDir)
    }

  /** Registered cross-batch form under the hash gate (the index-probe
    * pattern): vocabulary from the even-doc_id half, odd half probed
    * against it. */
  def vocabNoveltyProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
    val idxDir = IndexStore.evenHalf("vocab_index", dir, docs)(writeVocabIndexFrom)
    probeVocabIndex(spark, docs.filter(col("doc_id") % 2 === 1), idxDir)
  }

  /** The OOV-probe oracle, parameterized by the corpus/batch split —
    * the one-checked-shape rule of the TextDedup probe oracles. */
  private def vocabNoveltyProbeSqlFor(idxPred: String, batchPred: String): String =
    s"""WITH idx AS (
      |  SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
      |  FROM documents WHERE $idxPred),
      |bt AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents WHERE $batchPred),
      |pt AS (SELECT source, tok, count(*) AS n_occ FROM bt GROUP BY 1, 2),
      |j AS (
      |  SELECT pt.source, pt.tok, pt.n_occ,
      |    CASE WHEN idx.tok IS NULL THEN 1 ELSE 0 END AS is_new
      |  FROM pt LEFT JOIN idx ON idx.tok = pt.tok)
      |SELECT source,
      |  CAST(sum(n_occ) AS BIGINT) AS n_occurrences,
      |  count(*) AS n_types,
      |  CAST(sum(is_new) AS BIGINT) AS n_new_types,
      |  CAST(sum(CASE WHEN is_new = 1 THEN n_occ ELSE 0 END) AS BIGINT)
      |    AS n_new_occurrences,
      |  CAST(sum(CASE WHEN is_new = 1 THEN n_occ ELSE 0 END) AS DOUBLE) /
      |    CAST(sum(n_occ) AS DOUBLE) AS oov_rate
      |FROM j GROUP BY 1""".stripMargin

  val vocabNoveltyProbeSql: String =
    vocabNoveltyProbeSqlFor("doc_id % 2 = 0", "doc_id % 2 = 1")

  /** REGISTERED merge-lifecycle exercise for the VOCABULARY index —
    * the [[graft.ops.TextDedup.dedupIndexMergeProbe]] pattern over
    * [[mergeVocabIndexes]], completing the merge-probe set (exact
    * digests, simhash signatures, IVF append, vocabulary df): three
    * corpus slices (doc_id % 4 = 0/1/2) vocabulary-indexed separately,
    * df-sum merged, and the remainder's OOV rates probed against the
    * merged index. The oracle computes the same novelty report over a
    * flat union of the slices — a hash match proves summing per-slice
    * document frequencies equals a full rebuild (disjoint slices, so
    * df is additive), through the parquet round-trip. */
  def vocabMergeProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
    val merged = IndexStore.mergedSlices("vocab_index_merged", dir, docs)(
      writeVocabIndexFrom)(mergeVocabIndexes(spark, _, _))
    probeVocabIndex(spark, docs.filter(col("doc_id") % 4 === 3), merged)
  }

  val vocabMergeProbeSql: String =
    vocabNoveltyProbeSqlFor("doc_id % 4 < 3", "doc_id % 4 = 3")

  /** REGISTERED rebuild-only FORGET gate for the count-aggregate
    * families (r17, VERDICT r16 #3) — the takedown matrix's last cell
    * turned from documented-only into an oracle gate. The vocab index
    * stores only aggregated document frequencies, so a per-doc
    * takedown has nothing to subtract: its forget path is a REBUILD
    * from the live corpus ([[writeVocabIndex]] scaladoc). This probe
    * runs that lifecycle end-to-end: (1) index the FULL corpus (the
    * pre-takedown artifact), (2) take down the `doc_id % 10 = 4`
    * slice (the same slice every row-keyed tombstone probe flips),
    * (3) rebuild the index from the remaining corpus, (4) diff the
    * two artifacts per token: `df_before` (the superseded index),
    * `df_after` (the rebuilt one, 0 where the token vanished), and
    * `df_forgotten` = the document-frequency MASS the rebuild forgot.
    * The diff is on COUNTS, not token existence, deliberately: the
    * corpus vocabulary is tiny and saturated (every token appears in
    * live docs too), so an existence probe could not tell a correct
    * rebuild from one that silently kept the takedown docs — the df
    * delta can, because every takedown doc decrements the df of each
    * of its token types by exactly one. The DuckDB oracle derives
    * both sides independently from `documents`; a hash match proves
    * the rebuilt artifact carries ZERO residue — one leftover doc
    * would inflate `df_after` of its tokens. Non-vacuity (takedown
    * slice non-empty, so df mass IS forgotten) is asserted in
    * MixtureSpec. Scale shape: two index builds (one distinct-token
    * shuffle each) + one vocabulary-sized equi-join — the join is on
    * the sublinear (Heaps' law) index tables, never the corpus. */
  def vocabRebuildForgetProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
    val root = ProbeTemp.dir("vocab_rebuild_forget", dir) { d =>
      writeVocabIndexFrom(docs, s"$d/full")
      writeVocabIndexFrom(docs.filter(col("doc_id") % 10 =!= 4), s"$d/rebuilt")
    }
    val before = spark.read.parquet(s"$root/full")
      .select(col("tok"), col("df").as("df_before"))
    val after = spark.read.parquet(s"$root/rebuilt")
      .select(col("tok"), col("df").as("df_after0"))
    // left from the FULL side: rebuilt tokens are a subset (the live
    // corpus is a subset of the full one), and a token whose every
    // carrier was taken down must surface with df_after = 0
    before.join(after, Seq("tok"), "left")
      .select(col("tok"), col("df_before"),
        coalesce(col("df_after0"), lit(0L)).as("df_after"),
        (col("df_before") - coalesce(col("df_after0"), lit(0L))).as("df_forgotten"))
  }

  val vocabRebuildForgetProbeSql: String =
    """WITH full_idx AS (
      |  SELECT tok, count(*) AS df FROM (
      |    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents) GROUP BY 1),
      |live_idx AS (
      |  SELECT tok, count(*) AS df FROM (
      |    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents WHERE doc_id % 10 <> 4) GROUP BY 1)
      |SELECT f.tok,
      |  f.df AS df_before,
      |  CAST(COALESCE(l.df, 0) AS BIGINT) AS df_after,
      |  CAST(f.df - COALESCE(l.df, 0) AS BIGINT) AS df_forgotten
      |FROM full_idx f
      |LEFT JOIN live_idx l ON l.tok = f.tok""".stripMargin

  // --- budgeted mixture plan ----------------------------------------------

  /** Token budget the plan allocates. sized so both sampling regimes
    * occur on the driver corpus at sf0.01 (per-source targets straddle
    * the per-source token counts): under-represented sources get
    * epochs > 1 (repetition), over-represented get sample_rate < 1. */
  private[graft] val planBudget = 25000L

  /** The MIXTURE PLANNING table — the step a pre-training run performs
    * between corpus statistics and the actual data loader: given the
    * measured per-source token counts and a target mixture, emit per
    * source how many tokens the budget allocates it, the epochs of its
    * data that requires (epochs > 1 = deliberate repetition of
    * under-represented sources, the Pile/LLaMA recipe), and the
    * resulting sampling rate (capped at 1 — the plan never invents
    * more than one pass for the sampler; repetition is the loader's
    * epoch knob, reported separately). Target mixture = temperature
    * alpha=0.5 over token mass (target_frac ~ sqrt(n_tokens),
    * normalized) — the same sqrt-not-pow choice as [[temperatureSample]]
    * and for the same reason: sqrt and division are IEEE
    * correctly-rounded in both engines, pow(x, 0.3) is not.
    *
    * Determinism: the sqrt-mass normalizer is a LEFT-TO-RIGHT fold of
    * per-source sqrt values in source order (Spark: aggregate() over
    * array_sort(collect_list(struct)); DuckDB: list_reduce over
    * list(... ORDER BY source)) — a plain SUM of doubles would be
    * order-nondeterministic across engines AND across Spark runs.
    *
    * Scale shape: one groupBy(source) with map-side partial counts
    * (sources << corpus), a single-row normalizer broadcast back —
    * nothing corpus-sized shuffles twice; the plan table is
    * |sources| rows whatever the corpus size.
    * QBench cold-JVM sf0.1: [0.862, 0.858]s. */
  def mixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val per = Core.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val norm = per
      .agg(sum(col("n_tokens")).as("total_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("source"), col("n_tokens")))),
            s => sqrt(s.getField("n_tokens").cast("double"))),
          lit(0.0), (acc, x) => acc + x).as("sqrt_sum"))
    val targetFrac = sqrt(col("n_tokens").cast("double")) / col("sqrt_sum")
    val epochs = (lit(planBudget.toDouble) * targetFrac) / col("n_tokens").cast("double")
    per.crossJoin(broadcast(norm))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("natural_frac"),
        targetFrac.as("target_frac"),
        (lit(planBudget.toDouble) * targetFrac).as("target_tokens"),
        epochs.as("epochs"),
        least(lit(1.0), epochs).as("sample_rate"))
  }

  val mixturePlanSql: String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |norm AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)),
       |      (acc, x) -> acc + x) AS sqrt_sum
       |  FROM per)
       |SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS natural_frac,
       |  sqrt(CAST(n_tokens AS DOUBLE)) / sqrt_sum AS target_frac,
       |  ${planBudget.toDouble} * (sqrt(CAST(n_tokens AS DOUBLE)) / sqrt_sum) AS target_tokens,
       |  (${planBudget.toDouble} * (sqrt(CAST(n_tokens AS DOUBLE)) / sqrt_sum)) / CAST(n_tokens AS DOUBLE) AS epochs,
       |  least(1.0, (${planBudget.toDouble} * (sqrt(CAST(n_tokens AS DOUBLE)) / sqrt_sum)) / CAST(n_tokens AS DOUBLE)) AS sample_rate
       |FROM per CROSS JOIN norm""".stripMargin

  // --- exact source overlap (the sketch's audit twin) -----------------------

  /** EXACT pairwise source shingle-overlap — the audit twin of
    * [[sourceSimilarity]]'s bottom-k estimate, the same pairing the
    * ANN family maintains (`embed_cosine_topk` exact baseline vs the
    * IVF/LSH scale paths): run the exact form on a slice to calibrate
    * the sketch, run the sketch at corpus scale. Jaccard here is over
    * each source's DISTINCT shingle-hash set (identical hash on both
    * engines, so collisions — ~|set|/P — merge the same shingles on
    * both sides and the result stays hash-exact).
    *
    * Scale shape: one distinct-(source, h) shuffle, then an equi-join
    * on h — a shingle shared by s sources fans out to s·(s-1)/2 pair
    * rows, so the join output is bounded by sources² × distinct
    * shingles, NOT corpus². Linear in corpus size for a bounded source
    * list, but the constant is the shared-vocabulary mass — which is
    * exactly why the registered 100 TB path is the k-row-per-source
    * sketch and this form is the calibration audit (MixtureSpec
    * asserts the sketch's estimates track these exact values).
    * QBench cold-JVM sf0.1: [2.110, 1.769]s. */
  def sourceOverlapExact(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapExactFrom(Core.documents(spark, dir))

  private[graft] def sourceOverlapExactFrom(docs: DataFrame): DataFrame = {
    val dn = sourceShingleHashes(docs)
      .cache() // three uses: sizes + both sides of the pair join
    val sz = dn.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = dn.as("a").join(dn.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sz.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sz.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double")).as("jaccard"))
  }

  val sourceOverlapExactSql: String = {
    s"""WITH dn AS ($srcDnSql),
       |sz AS (SELECT source, count(*) AS n FROM dn GROUP BY 1),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
       |  FROM dn a JOIN dn b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_shared,
       |  CAST(n_shared AS DOUBLE) / CAST(sa.n + sb.n - n_shared AS DOUBLE) AS jaccard
       |FROM inter JOIN sz sa ON src_a = sa.source JOIN sz sb ON src_b = sb.source""".stripMargin
  }

  // --- KMV approximate distinct-cardinality ---------------------------------

  /** Bottom-k of the KMV estimator (same k as the similarity sketch). */
  private[graft] val kmvK = 64

  /** KMV (k-minimum-values) APPROXIMATE DISTINCT cardinality per
    * source — the "how many distinct shingles does each source
    * contribute" statistic a vocabulary-budget or dedup-cost planner
    * needs, WITHOUT a full distinct count at 100 TB. Estimator
    * (Bar-Yossef et al. 2002): treat the k smallest of the distinct
    * hash values (uniform on [0, P)) as order statistics — the k-th
    * smallest h_k estimates D ≈ (k-1)·P / h_k. The per-source bottom-k
    * set is a MERGEABLE sketch (union = bottom-k of the union), so
    * shards combine associatively — the property exact counts lack.
    *
    * The registered query is the CALIBRATION table: exact distinct
    * count and KMV estimate side by side with the signed relative
    * error (MixtureSpec bounds it; the expected s.e. is ~1/sqrt(k-1) ≈
    * 0.126 at k=64). At 100 TB the exact column is dropped and only
    * the k-row-per-source bottom-k sketch is aggregated. Hash-exact
    * cross-engine: the estimate is one literal-product division —
    * (k-1)·P is exact in a double (6.3e7 << 2^53), h_k is an integer,
    * and a single IEEE division is correctly rounded in both engines.
    * Sources with fewer than k distinct hashes report the exact count
    * as the estimate (h_k undefined — NULL kth_hash).
    * QBench cold-JVM sf0.1: [1.647, 0.762]s. */
  def distinctShinglesKmv(spark: SparkSession, dir: String): DataFrame =
    distinctShinglesKmvFrom(Core.documents(spark, dir))

  private[graft] def distinctShinglesKmvFrom(docs: DataFrame): DataFrame = {
    val dn = sourceShingleHashes(docs)
      .cache() // two uses: exact count + the bottom-k window
    val exact = dn.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"))
    val kth = dn.withColumn("r", row_number().over(w))
      .filter(col("r") === kmvK)
      .select(col("source"), col("h").as("kth_hash"))
    val estProduct = (kmvK - 1).toLong * graft.functions.PolyHash.P // exact in a double
    exact.join(kth, Seq("source"), "left")
      .withColumn("est_kmv",
        when(col("kth_hash").isNull, col("n_exact").cast("double"))
          .otherwise(lit(estProduct.toDouble) / col("kth_hash").cast("double")))
      .select(col("source"), col("n_exact"), col("kth_hash"), col("est_kmv"),
        ((col("est_kmv") - col("n_exact").cast("double")) /
          col("n_exact").cast("double")).as("rel_err"))
  }

  val distinctShinglesKmvSql: String = {
    val estProduct = (kmvK - 1).toLong * graft.functions.PolyHash.P
    s"""WITH dn AS ($srcDnSql),
       |exact AS (SELECT source, count(*) AS n_exact FROM dn GROUP BY 1),
       |kth AS (
       |  SELECT source, h AS kth_hash FROM (
       |    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS r FROM dn)
       |  WHERE r = $kmvK),
       |est AS (
       |  SELECT e.source, e.n_exact, k.kth_hash,
       |    CASE WHEN k.kth_hash IS NULL THEN CAST(e.n_exact AS DOUBLE)
       |         ELSE $estProduct.0 / CAST(k.kth_hash AS DOUBLE) END AS est_kmv
       |  FROM exact e LEFT JOIN kth k ON k.source = e.source)
       |SELECT source, n_exact, kth_hash, est_kmv,
       |  (est_kmv - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
       |FROM est""".stripMargin
  }

  // --- vocabulary growth (Heaps' law curve) ---------------------------------

  /** VOCABULARY GROWTH curve — distinct word types vs cumulative token
    * occurrences over the corpus in ingestion (doc_id) order, the
    * Heaps'-law diagnostic that sizes a tokenizer vocabulary and
    * detects corpus saturation (the curve flattening means new data
    * stops contributing new vocabulary — the signal to stop crawling a
    * source). Buckets are LOG2-spaced over doc_id (bucket =
    * floor(log2(doc_id+1)), computed integer-exactly as
    * length(bin(doc_id+1))-1 — no floating log whose last-ulp boundary
    * behavior could differ across engines), so the bucket count is
    * ≤64 FOREVER — the growth curve of a 100 TB corpus is the same
    * handful of rows as this one's.
    *
    * Scale shape: one groupBy(token) min(doc_id) shuffle (map-side
    * partial min) + one per-bucket aggregate; the cumulative window
    * runs over the ≤64-row bucket table (global window allowlisted
    * with that justification). QBench cold-JVM sf0.1: [0.575, 0.407]s. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    def bucketOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (length(bin(c + lit(1))) - lit(1)).cast("int")
    val docs = Core.documents(spark, dir)
    val firstSeen = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(min(col("doc_id")).as("first_doc"))
    val newTypes = firstSeen
      .groupBy(bucketOf(col("first_doc")).as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    val occ = docs
      .select(bucketOf(col("doc_id")).as("bucket"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_token_occurrences"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    occ.join(newTypes, Seq("bucket"), "left")
      .withColumn("n_new_types", coalesce(col("n_new_types"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_token_occurrences")).over(w))
      .withColumn("cum_types", sum(col("n_new_types")).over(w))
  }

  val vocabGrowthSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |fs AS (SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY 1),
      |nt AS (
      |  SELECT CAST(length(bin(first_doc + 1)) - 1 AS INTEGER) AS bucket,
      |    count(*) AS n_new_types
      |  FROM fs GROUP BY 1),
      |occ AS (
      |  SELECT CAST(length(bin(doc_id + 1)) - 1 AS INTEGER) AS bucket,
      |    count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_token_occurrences
      |  FROM documents GROUP BY 1)
      |SELECT occ.bucket, n_docs, n_token_occurrences,
      |  CAST(coalesce(n_new_types, 0) AS BIGINT) AS n_new_types,
      |  CAST(sum(n_token_occurrences) OVER (ORDER BY occ.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
      |  CAST(sum(coalesce(n_new_types, 0)) OVER (ORDER BY occ.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
      |FROM occ LEFT JOIN nt USING (bucket)""".stripMargin

  // --- epoch realization ----------------------------------------------------

  /** REALIZE the mixture plan per document — the handoff from
    * [[mixturePlan]]'s per-source epochs to the data loader: each
    * document's integer copy count under the budget. floor(epochs)
    * guaranteed copies for every document of the source, plus one more
    * for the hash-selected fraction that realizes the fractional part
    * (the same content-hash gate as [[temperatureSample]], so the
    * extra-copy subset is deterministic and uniform within the
    * source). Summed over a source, E[copies x tokens] = its
    * target_tokens — repetition of under-budget sources (epochs > 1,
    * the Pile/LLaMA recipe) and subsampling of over-budget ones
    * (epochs < 1) fall out of the same arithmetic.
    *
    * Exactness: floor() of a computed double is boundary-fragile only
    * if the true value is an exact integer — epochs is sqrt-derived
    * and never lands there; both engines compute the identical double
    * (every step correctly rounded, identically ordered), so floor and
    * the gate agree bit-for-bit. Plan shape: the |sources|-row plan
    * broadcasts; one map-side expression per document, no shuffle
    * beyond the plan's own aggregation.
    * QBench cold-JVM sf0.1: [0.642, 0.574]s. */
  def epochRealize(spark: SparkSession, dir: String): DataFrame = {
    val plan = mixturePlan(spark, dir).select(col("source"), col("epochs"))
    val frac = col("epochs") - floor(col("epochs"))
    Core.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        (graft.functions.poly_hash(col("text")) % lit(1000000L)).as("h"))
      .join(broadcast(plan), "source")
      .select(col("doc_id"), col("source"),
        (floor(col("epochs")) +
          when(col("h").cast("double") < frac * lit(1000000.0), 1L).otherwise(0L))
          .cast("long").as("n_copies"))
  }

  val epochRealizeSql: String =
    s"""WITH plan AS ($mixturePlanSql),
       |d AS (
       |  SELECT doc_id, source, ${TextDedup.charHashSql("text")} % 1000000 AS h
       |  FROM documents)
       |SELECT d.doc_id, d.source,
       |  CAST(FLOOR(epochs) + CASE WHEN CAST(h AS DOUBLE) <
       |    (epochs - FLOOR(epochs)) * 1000000.0 THEN 1 ELSE 0 END AS BIGINT)
       |    AS n_copies
       |FROM d JOIN plan USING (source)""".stripMargin

  override def queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "source_caps" -> (sourceCaps _),
    "temperature_sample" -> (temperatureSample _),
    "source_similarity" -> (sourceSimilarity _),
    "source_drift" -> (sourceDrift _),
    "mixture_plan" -> (mixturePlan _),
    "source_overlap_exact" -> (sourceOverlapExact _),
    "distinct_shingles_kmv" -> (distinctShinglesKmv _),
    "vocab_growth" -> (vocabGrowth _),
    "mixture_gate_probe" -> (mixtureGateProbe _),
    "vocab_novelty_probe" -> (vocabNoveltyProbe _),
    "vocab_merge_probe" -> (vocabMergeProbe _),
    "vocab_rebuild_forget_probe" -> (vocabRebuildForgetProbe _),
    "drift_baseline_merge_probe" -> (driftBaselineMergeProbe _),
    "epoch_realize" -> (epochRealize _))

  override def oracle: Seq[(String, String)] = Seq(
    "source_caps" -> sourceCapsSql,
    "temperature_sample" -> temperatureSampleSql,
    "source_similarity" -> sourceSimilaritySql,
    "source_drift" -> sourceDriftSql,
    "mixture_plan" -> mixturePlanSql,
    "source_overlap_exact" -> sourceOverlapExactSql,
    "distinct_shingles_kmv" -> distinctShinglesKmvSql,
    "vocab_growth" -> vocabGrowthSql,
    "mixture_gate_probe" -> mixtureGateProbeSql,
    "vocab_novelty_probe" -> vocabNoveltyProbeSql,
    "vocab_merge_probe" -> vocabMergeProbeSql,
    "vocab_rebuild_forget_probe" -> vocabRebuildForgetProbeSql,
    "drift_baseline_merge_probe" -> driftBaselineMergeProbeSql,
    "epoch_realize" -> epochRealizeSql)
}
