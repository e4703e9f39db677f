package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.StreamingPipeline

/** Large-scale training-data pipeline text ops (north-star extensions
  * beyond the reference — builder brief): tokenization, language-ID
  * heuristic, quality scoring, document fingerprinting, and the dedup
  * family (exact, n-gram Jaccard, MinHash+LSH, SimHash) over the
  * `documents` table.
  *
  * Everything is a pure Catalyst expression pipeline (split /
  * higher-order transform / aggregate / explode / groupBy) — no UDFs,
  * so whole-stage codegen applies and the DuckDB oracle can rebuild
  * every value with its list lambdas.
  *
  * Cross-engine hash: Spark's hash()/xxhash64 and DuckDB's hash()
  * differ, so token/shingle hashing uses an explicit polynomial
  * char hash mod 1000003 (expressible identically in both engines;
  * no 64-bit overflow anywhere, since DuckDB errors on BIGINT
  * overflow while Spark wraps).
  *
  * Scale notes: exact dedup and MinHash banding are shuffle-by-key
  * (hash partition on digest / band key) — the 100 TB path. The
  * all-pairs Jaccard/SimHash-pair queries are quadratic verification
  * baselines; at scale the LSH candidate set replaces the cross join.
  */
object TextDedup extends QueryModule {

  // --- shared builders ----------------------------------------------------

  private val P = 1000003L

  /** Polynomial char hash mod P: fold (acc*31 + codepoint) % P.
    * Native codegen'd Expression (graft.functions.PolyHash) — the HOF
    * composition (aggregate/transform/sequence) computes the same
    * value but interprets three lambda layers per char and was the
    * sf0.1 bench hot spot across the dedup family. */
  private def charHash(s: Column): Column = graft.functions.poly_hash(s)

  /** Same, over a SQL expression string (shared with Multimodal). */
  private[ops] def charHashSql(s: String): String =
    s"""(CASE WHEN length($s) < 1 THEN 0
       | ELSE list_reduce(
       |   list_prepend(CAST(0 AS BIGINT),
       |     list_transform(range(1, length($s) + 1), i -> CAST(ascii($s[i]) AS BIGINT))),
       |   (acc, c) -> (acc * 31 + c) % $P) END)""".stripMargin.replace("\n", " ")

  private val toksSql = "string_split(text, ' ')"

  /** Token array materialized once as a column: HOF lambdas get no
    * common-subexpression elimination, so referencing split(text)
    * inside the trigram lambda would re-split the text per element
    * (O(len^2) per doc — measured 2x on the dedup family at sf0.1). */
  private def withToks(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
  private val toks = col("toks")

  /** Raw per-document shingle array, materialized as a column; use
    * sites apply array_distinct(dng) INLINE. Per-doc dedup is
    * equivalent to a global distinct on (doc_id, ngram) but needs no
    * shuffle — at 100 TB the explode+DISTINCT form re-shuffles the
    * entire shingle stream just to drop within-doc repeats.
    *
    * Shape matters: aliasing array_distinct(ngrams) itself as a
    * column makes CollapseProject substitute the split() through the
    * trigram lambda (O(len^2) per doc — measured 17x slower at
    * sf0.1); aliasing the raw ngram array and wrapping the column
    * reference keeps every layer single-evaluation. */
  private[ops] def withNgramArr(df: DataFrame): DataFrame =
    withToks(df).withColumn("ngarr", ngrams)
  private val dng = array_distinct(col("ngarr"))

  /** Token 3-grams as strings (<3 tokens -> empty): native codegen'd
    * expression (graft.functions.TokenNgrams) — the HOF composition
    * (size-CASE + transform(sequence) + concat_ws) computes the same
    * array but interprets three lambda layers per shingle AND breaks
    * whole-stage codegen for the enclosing projection; the shingle
    * build feeds every dedup-family scan. */
  private val ngrams: Column = graft.functions.token_ngrams(toks, 3)

  private[ops] val ngramsSql: String =
    s"list_transform(range(1, len($toksSql) - 1), i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2])"

  // --- text analysis ------------------------------------------------------

  /** Token counting: whitespace tokens + a char-class proxy for BPE-ish
    * subword count (chars/4 rounded up — a common heuristic). */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    withToks(Core.documents(spark, dir)).select(
      col("doc_id"),
      length(col("text")).as("n_chars_calc"),
      size(toks).as("n_tokens"),
      ((length(col("text")) + lit(3)) / lit(4)).cast("int").as("n_subwords_est"),
      (length(col("text")).cast("double") / size(toks).cast("double")).as("chars_per_token"))

  val textTokensSql: String =
    s"""SELECT doc_id,
       |  CAST(length(text) AS INTEGER) AS n_chars_calc,
       |  CAST(len($toksSql) AS INTEGER) AS n_tokens,
       |  CAST((length(text) + 3) // 4 AS INTEGER) AS n_subwords_est,
       |  CAST(length(text) AS DOUBLE) / CAST(len($toksSql) AS DOUBLE) AS chars_per_token
       |FROM documents""".stripMargin

  /** Language-ID heuristic: English stopword density over tokens
    * (n-gram-free variant suited to the whitespace corpus). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val stops = filter(toks, t => t === "the" || t === "a")
    val ratio = size(stops).cast("double") / size(toks).cast("double")
    withToks(Core.documents(spark, dir)).select(
      col("doc_id"), col("lang").as("lang_declared"),
      size(toks).as("n_tokens"), size(stops).as("n_stopwords"),
      ratio.as("stop_ratio"),
      when(ratio >= 0.08, lit("en")).otherwise(lit("unk")).as("lang_pred"))
  }

  val langIdSql: String =
    s"""SELECT doc_id, lang AS lang_declared,
       |  CAST(len($toksSql) AS INTEGER) AS n_tokens,
       |  CAST(len(list_filter($toksSql, t -> t = 'the' OR t = 'a')) AS INTEGER) AS n_stopwords,
       |  CAST(len(list_filter($toksSql, t -> t = 'the' OR t = 'a')) AS DOUBLE) / CAST(len($toksSql) AS DOUBLE) AS stop_ratio,
       |  CASE WHEN CAST(len(list_filter($toksSql, t -> t = 'the' OR t = 'a')) AS DOUBLE) / CAST(len($toksSql) AS DOUBLE) >= 0.08
       |       THEN 'en' ELSE 'unk' END AS lang_pred
       |FROM documents""".stripMargin

  /** Text normalization — the stage-zero cleanup every pipeline runs
    * BEFORE hashing/shingling (mixed composed/decomposed accents make
    * identical glyphs hash differently; stray control bytes and
    * whitespace runs poison exact dedup): NFC canonical composition
    * (native [[graft.functions.NfcNormalize]] kernel — Spark has no
    * builtin), lowercase, control-char strip, whitespace collapse,
    * trim — in that fixed order on BOTH engines. Regex classes stay
    * explicit ([\\x00-\\x1f], [ \\t\\n\\r]) because Java's \\s and
    * RE2's \\s disagree on \\x0B — the same dialect-subset rule as
    * pii_scrub. Map-side only; `changed` marks rows the cleanup
    * actually touched (0 on an already-clean corpus — which is itself
    * the assertion that normalization is idempotent there). */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    textNormalizeFrom(Core.documents(spark, dir))

  /** The normalization as a plain Column — shared by the registered
    * query, the normalized dedup, and the STREAMING ingest variant
    * (stateless map work composes in front of stateful ops for free).
    * The control class EXCLUDES \t \n \r (0x09, 0x0a, 0x0d): those are
    * separators the collapse step must turn into spaces, not delete —
    * stripping them first would glue words together. */
  private[graft] def normalizeTextCol(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(graft.functions.nfc_normalize(text)),
        "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""),
      "[ \\t\\n\\r]+", " "))

  private[graft] def textNormalizeFrom(df: DataFrame): DataFrame = {
    val norm = normalizeTextCol(col("text"))
    df.select(col("doc_id"), norm.as("text_norm"),
      (norm =!= col("text")).cast("int").as("changed"))
  }

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(
      |    regexp_replace(lower(nfc_normalize(text)), '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'),
      |    '[ \t\n\r]+', ' ', 'g')) AS text_norm,
      |  CAST(trim(regexp_replace(
      |    regexp_replace(lower(nfc_normalize(text)), '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'),
      |    '[ \t\n\r]+', ' ', 'g')) <> text AS INTEGER) AS changed
      |FROM documents""".stripMargin

  /** Language-ID evaluation — the confusion matrix between the
    * declared corpus language and [[langId]]'s n-gram-heuristic
    * prediction, the standard check before trusting a classifier's
    * output as a partitioning/mixture key. One linear scan + a
    * (langs x preds)-row aggregate: constant output regardless of
    * corpus size, the same shape as data_quality. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .groupBy(col("lang_declared"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))

  val langConfusionSql: String =
    s"""SELECT lang AS lang_declared,
       |  CASE WHEN CAST(len(list_filter($toksSql, t -> t = 'the' OR t = 'a')) AS DOUBLE) / CAST(len($toksSql) AS DOUBLE) >= 0.08
       |       THEN 'en' ELSE 'unk' END AS lang_pred,
       |  count(*) AS n_docs
       |FROM documents GROUP BY 1, 2""".stripMargin

  /** TF-IDF keyword extraction: each document's top-3 tokens by
    * tf x idf — the exploration/labeling pass run over every new
    * corpus drop. Transcendental-free by the [[lm_doc_score]] rule:
    * true idf = ln(N/df) is a libm call with no cross-engine bit
    * contract, so the score is the exact integer
    * tf * ((N * 1e6) div df) — the same ORDERING as tf x (N/df)
    * within a document up to div-floor quantization, and bit-identical
    * on both engines. Scale shape: the df table is vocabulary-sized
    * (distinct per-doc tokens, one count shuffle); the per-doc tf
    * explode is linear; the top-3 window partitions BY DOCUMENT, so
    * parallelism grows with the corpus (PlanAudit's global-window gate
    * stays clean). */
  private val kwTop = 3

  def docKeywords(spark: SparkSession, dir: String): DataFrame = {
    // spreadNarrowScan: the tokenize+explode feeding BOTH aggregations
    // runs pre-exchange, single-task on a narrow scan
    val docTok = withToks(Core.spreadNarrowScan(Core.documents(spark, dir)))
      .select(col("doc_id"), explode(toks).as("tok"))
      .filter(length(col("tok")) >= 1)
    // N rides the plan as a 1-row broadcast cross join (the
    // exactStratifiedSample scalar shape) — an eager .count() here
    // would run a full corpus scan at DataFrame-CONSTRUCTION time,
    // making this the only non-lazy registered query (ADVICE r5)
    val nTotal = Core.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val df_ = docTok.distinct()
      .groupBy("tok").agg(count(lit(1)).as("doc_freq"))
    val tf = docTok.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok"))
    tf.join(df_, "tok")
      .crossJoin(broadcast(nTotal))
      .withColumn("score", col("tf") * expr("(n_docs * 1000000L) div doc_freq"))
      .withColumn("kw_rank", row_number().over(w))
      .filter(col("kw_rank") <= kwTop)
      .select(col("doc_id"), col("kw_rank"), col("tok").as("keyword"),
        col("tf"), col("doc_freq"), col("score"))
  }

  val docKeywordsSql: String =
    s"""WITH doctok AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |doctok1 AS (SELECT doc_id, tok FROM doctok WHERE length(tok) >= 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |df AS (
       |  SELECT tok, count(*) AS doc_freq
       |  FROM (SELECT DISTINCT doc_id, tok FROM doctok1) GROUP BY tok),
       |tf AS (
       |  SELECT doc_id, tok, count(*) AS tf FROM doctok1 GROUP BY 1, 2),
       |scored AS (
       |  SELECT doc_id, tok, tf, doc_freq,
       |    tf * ((n_docs * 1000000) // doc_freq) AS score
       |  FROM tf JOIN df USING (tok) CROSS JOIN n),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, tok) AS kw_rank
       |  FROM scored)
       |SELECT doc_id, CAST(kw_rank AS INTEGER) AS kw_rank, tok AS keyword,
       |  tf, CAST(doc_freq AS BIGINT) AS doc_freq, CAST(score AS BIGINT) AS score
       |FROM ranked WHERE kw_rank <= $kwTop""".stripMargin

  /** THE quality-score definition — single source for every consumer
    * (the registered [[textQuality]]/[[qualityPrune]], the streaming
    * gate in StreamingPipeline.streamingCorpusIngest, and the landing
    * writer CorpusSources.curateDrops): tuning a weight, the stopword
    * list, or the length band here re-syncs all of them at once
    * instead of silently diverging per copy. `tokens` must be the
    * split-on-space array of `text`. */
  private[graft] def qualityScoreCol(text: Column, tokens: Column): Column = {
    val nTok = size(tokens).cast("double")
    val uniq = size(array_distinct(tokens)).cast("double") / nTok
    val stop = size(filter(tokens, t => t === "the" || t === "a")).cast("double") / nTok
    val lenOk = when(length(text).between(100, 400), lit(1.0)).otherwise(lit(0.0))
    lit(0.5) * uniq + lit(0.2) * (lit(1.0) - stop) + lit(0.3) * lenOk
  }

  /** Quality scoring: unique-token ratio, stopword ratio, length gate,
    * combined as a weighted score (all exact ratios -> deterministic). */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("double")
    val uniq = size(array_distinct(toks)).cast("double") / nTok
    val stop = size(filter(toks, t => t === "the" || t === "a")).cast("double") / nTok
    val lenOk = when(length(col("text")).between(100, 400), lit(1.0)).otherwise(lit(0.0))
    withToks(Core.documents(spark, dir)).select(
      col("doc_id"),
      uniq.as("unique_ratio"), stop.as("stop_ratio"), lenOk.as("len_ok"),
      qualityScoreCol(col("text"), toks).as("quality_score"))
  }

  val textQualitySql: String = {
    val nTok = s"CAST(len($toksSql) AS DOUBLE)"
    val uniq = s"(CAST(len(list_distinct($toksSql)) AS DOUBLE) / $nTok)"
    val stop = s"(CAST(len(list_filter($toksSql, t -> t = 'the' OR t = 'a')) AS DOUBLE) / $nTok)"
    val lenOk = "(CASE WHEN length(text) BETWEEN 100 AND 400 THEN 1.0 ELSE 0.0 END)"
    s"""SELECT doc_id,
       |  $uniq AS unique_ratio, $stop AS stop_ratio, CAST($lenOk AS DOUBLE) AS len_ok,
       |  0.5 * $uniq + 0.2 * (1.0 - $stop) + 0.3 * CAST($lenOk AS DOUBLE) AS quality_score
       |FROM documents""".stripMargin
  }

  /** Quality pruning (the FineWeb-style selection step downstream of
    * scoring): within each (lang, source) cell, rank documents by
    * [[textQuality]]'s score and keep the top half. Ranking per CELL
    * rather than per language is the scale decision: window
    * parallelism grows with the domain count (millions at web scale),
    * where a per-language rank would collapse each language into one
    * sort task. The keep gate is pure integer math on the rank
    * (q_rank * 2 <= n_cell + 1, i.e. rank <= ceil(n/2)) — no
    * double-threshold comparison to drift cross-engine; the score
    * ordering itself is deterministic (exact ratios, doc_id
    * tie-break). Emits every doc with its rank and decision, like
    * [[graft.ops.Mixture.sourceCaps]]. */
  def qualityPrune(spark: SparkSession, dir: String): DataFrame = {
    val score = qualityScoreCol(col("text"), toks)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source"))
    withToks(Core.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"), score.as("quality_score"))
      .withColumn("q_rank", row_number().over(w))
      .withColumn("n_cell", count(lit(1)).over(wc))
      .select(col("doc_id"), col("lang"), col("source"), col("quality_score"),
        col("q_rank"),
        when(col("q_rank") * 2 <= col("n_cell") + 1, 1).otherwise(0).as("kept"))
  }

  val qualityPruneSql: String = {
    val nTok = s"CAST(len($toksSql) AS DOUBLE)"
    val uniq = s"(CAST(len(list_distinct($toksSql)) AS DOUBLE) / $nTok)"
    val stop = s"(CAST(len(list_filter($toksSql, t -> t = 'the' OR t = 'a')) AS DOUBLE) / $nTok)"
    val lenOk = "(CASE WHEN length(text) BETWEEN 100 AND 400 THEN 1.0 ELSE 0.0 END)"
    s"""WITH q AS (
       |  SELECT doc_id, lang, source,
       |    0.5 * $uniq + 0.2 * (1.0 - $stop) + 0.3 * CAST($lenOk AS DOUBLE) AS quality_score
       |  FROM documents),
       |r AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY quality_score DESC, doc_id) AS q_rank,
       |    COUNT(*) OVER (PARTITION BY lang, source) AS n_cell
       |  FROM q)
       |SELECT doc_id, lang, source, quality_score,
       |  CAST(q_rank AS INTEGER) AS q_rank,
       |  CAST(CASE WHEN q_rank * 2 <= n_cell + 1 THEN 1 ELSE 0 END AS INTEGER) AS kept
       |FROM r""".stripMargin
  }

  /** Document fingerprint: rolling polynomial hash of the full text. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    withToks(Core.documents(spark, dir)).select(
      col("doc_id"),
      charHash(col("text")).as("fingerprint"),
      md5(col("text").cast("binary")).as("digest_md5"))

  val docFingerprintSql: String =
    s"""SELECT doc_id,
       |  ${charHashSql("text")} AS fingerprint,
       |  md5(text) AS digest_md5
       |FROM documents""".stripMargin

  // --- dedup family -------------------------------------------------------

  /** Exact dedup: hash-groupBy on content digest; canonical survivor =
    * min doc_id. Shuffle is on the digest — the 100 TB form. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Core.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))

  val dedupExactSql: String =
    """SELECT md5(text) AS digest, count(*) AS n_copies, min(doc_id) AS keep_id
      |FROM documents GROUP BY 1""".stripMargin

  /** Exact dedup over NORMALIZED text — the composition that justifies
    * stage-zero normalization: two documents differing only in
    * accent form, case, control bytes or whitespace runs are the SAME
    * document to a training set, but [[dedupExact]]'s raw digest
    * treats them as distinct. Digesting [[textNormalize]]'s output
    * collapses the variant class; same linear digest-shuffle shape. */
  def dedupExactNormalized(spark: SparkSession, dir: String): DataFrame =
    // spreadNarrowScan: the NFC/case/control normalization is the
    // per-row-heavy term and runs pre-exchange — single-task on a
    // narrow scan (per-job profile: one 1-task job carried ~95% of the
    // query) — while the digest groupBy only spreads AFTER it
    textNormalizeFrom(Core.spreadNarrowScan(Core.documents(spark, dir)))
      .groupBy(md5(col("text_norm").cast("binary")).as("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))

  val dedupExactNormalizedSql: String =
    s"""WITH n AS ($textNormalizeSql)
       |SELECT md5(text_norm) AS digest, count(*) AS n_copies, min(doc_id) AS keep_id
       |FROM n GROUP BY 1""".stripMargin

  /** N-gram Jaccard near-dup pairs via PREFIX-FILTERED set-similarity
    * join (the All-Pairs/PPJoin prune): under a global shingle order,
    * any pair with J >= 0.5 shares at least one shingle within the
    * first n - ceil(0.5*n) + 1 of each document's ordered shingle set,
    * so only that prefix enters the inverted index; prefix candidates
    * (plus the 2*min >= max length prune) are verified EXACTLY against
    * the full shingle arrays, so the output matches the unpruned form
    * (asserted in TextDedupSpec).
    *
    * SPEC-ONLY VARIANT — measured SLOWER than the registered count-agg
    * join on this corpus, and the reason is structural, not noise.
    * QBench cold-JVM A/B at sf0.1 (reps): this form 6.25/4.94/4.13s vs
    * the count-agg form 4.10/1.76/1.70s. The corpus's shingle frequency
    * is near-uniform (27,213 distinct shingles over 5,000 docs, max
    * doc-frequency 25, mean ~9.6 — no rare tail), so the prefix cuts
    * join rows only ~2x (DuckDB-counted: 602k lexicographic-prefix join
    * rows -> 567k DISTINCT candidates, vs 1.27M all-shingle join rows;
    * rare-first ordering manages 430k/409k and pays three extra
    * shuffles for it) — and every surviving candidate pays an
    * array_intersect over ~52-string arrays, which costs far more than
    * the count-agg's per-join-row partial aggregation. The regime rule
    * ("pick by corpus frequency profile") is now FIXTURE-BACKED
    * (TextDedupSpec's deterministic Zipf corpus, r6): candidate join
    * rows all=27,132 vs lexicographic-prefix=13,482 (0.50x — alphabet
    * luck, same ~2x as uniform) vs rare-first-prefix=4,625 (0.17x —
    * the Zipf head excluded outright, vs 0.34x on the uniform corpus),
    * and both forms stay output-equal under the skew. So on Zipfian
    * real text the prune that wins is RARE-FIRST ordering (worth its
    * extra frequency-agg shuffles there), not the map-side
    * lexicographic one. The 100 TB near-dup path is
    * minhash_lsh_candidates + exact verify either way. */
  def ngramJaccardPairsPrefix(spark: SparkSession, dir: String): DataFrame = {
    // the prefix theorem holds for ANY total order on shingles;
    // lexicographic order is computed MAP-SIDE (array_sort + slice on
    // the per-doc array) — rare-first (doc-frequency) order would
    // minimize candidates but costs a full-corpus frequency
    // aggregation, a join, and a per-doc row_number window (measured
    // cold-JVM at sf0.1: 6.61s)
    val docs = withNgramArr(Core.documents(spark, dir))
      .select(col("doc_id"), array_sort(dng).as("ngs"))
      .withColumn("n", size(col("ngs")))
      .cache() // three uses (index + both verify sides); measured below
    val prefLen = (col("n") - ceil(col("n") * lit(0.5)) + lit(1)).cast("int")
    val prefix = docs.select(col("doc_id"), col("n"),
      explode(slice(col("ngs"), lit(1), prefLen)).as("ng"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.ng") === col("b.ng") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 2 >= col("b.n") && col("b.n") * 2 >= col("a.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verify: two hash joins on doc_id (linear in candidates),
    // intersection from the full distinct arrays — same integers as the
    // r3 pair-count aggregation, so jaccard doubles are bit-identical.
    // ALIASING TRAP (measured 15.3s -> ~1.5s on this phase): filtering
    // on `jaccard >= 0.5` inlines the array_intersect into the pushed
    // predicate 2-4x (numerator, denominator, output), so the bulk
    // filter is the INTEGER cross-multiplied form 3*s >= na+nb
    // (exactly J >= 0.5: 2s >= na+nb-s) — one intersect eval per
    // candidate; the handful of survivors recompute it for the output
    // columns at negligible cost
    val s = size(array_intersect(col("ngs_a"), col("ngs_b")))
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("ngs").as("ngs_a"), col("n").as("na")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("ngs").as("ngs_b"), col("n").as("nb")), "doc_b")
      .filter(s * lit(3) >= col("na") + col("nb"))
      .select(col("doc_a"), col("doc_b"), s.cast("long").as("n_shared"),
        (s.cast("double") / (col("na") + col("nb") - s).cast("double")).as("jaccard"))
  }

  /** RARE-FIRST prefix-filtered variant — the branch that wins under
    * a ZIPFIAN shingle profile (the r6 fixture measured it at 0.17x
    * the unpruned candidate join rows vs lexicographic-prefix 0.50x):
    * ordering each document's shingles by ascending corpus doc
    * frequency puts the Zipf HEAD outside every prefix, so the
    * inverted index only carries the discriminative tail. Costs one
    * full-corpus frequency aggregation, a join, and a per-doc
    * row_number window (partitioned BY doc_id — scales horizontally)
    * on top of the prefix machinery; exact verify is identical to
    * [[ngramJaccardPairsPrefix]], so the output provably matches the
    * unpruned form (TextDedupSpec asserts equality on BOTH the
    * near-uniform corpus and the Zipf fixture). */
  private[graft] def ngramJaccardPairsRareFirst(spark: SparkSession, dir: String): DataFrame = {
    // spreadNarrowScan: same pre-exchange shingling term as the
    // count-agg branch
    val docs = withNgramArr(Core.spreadNarrowScan(Core.documents(spark, dir)))
      .select(col("doc_id"), array_sort(dng).as("ngs"))
      .withColumn("n", size(col("ngs")))
      .cache() // same three uses as the lexicographic form
    val all = docs.select(col("doc_id"), col("n"), explode(col("ngs")).as("ng"))
    val dfreq = all.groupBy("ng").agg(count(lit(1)).as("df"))
    val prefLen = (col("n") - ceil(col("n") * lit(0.5)) + lit(1)).cast("int")
    val wRare = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("ng"))
    val prefix = all.join(dfreq, "ng")
      .withColumn("rnk", row_number().over(wRare))
      .filter(col("rnk") <= prefLen)
      .select(col("doc_id"), col("n"), col("ng"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.ng") === col("b.ng") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 2 >= col("b.n") && col("b.n") * 2 >= col("a.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val s = size(array_intersect(col("ngs_a"), col("ngs_b")))
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("ngs").as("ngs_a"), col("n").as("na")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("ngs").as("ngs_b"), col("n").as("nb")), "doc_b")
      .filter(s * lit(3) >= col("na") + col("nb"))
      .select(col("doc_a"), col("doc_b"), s.cast("long").as("n_shared"),
        (s.cast("double") / (col("na") + col("nb") - s).cast("double")).as("jaccard"))
  }

  /** The DATA-DRIVEN branch pick (r6 verdict #6): a cheap
    * frequency-profile probe on a deterministic ~64-document sample
    * decides whether the corpus shingle profile is Zipfian enough for
    * the rare-first prune to win. Statistic: the share of shingle
    * occurrences carried by the 100 most document-frequent shingles
    * of the sample — the Zipf-head mass. Calibrated on this repo's
    * fixtures at the probe's own sample size (~70 docs): the
    * near-uniform driver corpora measure 0.051 (sf0.001) / 0.052
    * (sf0.01) while the Zipf fixture measures 0.146 (mean shingle df
    * 1.08 vs 1.69) — threshold 0.10 splits them with ~2x margin both
    * ways. Probe cost: one metadata-cheap count plus two aggregations
    * over the sampled docs' shingles — O(sample), corpus-size-free,
    * the same eager-small-job pattern as the IVF centroid collect. */
  private[graft] val jaccardSkewThreshold = 0.10

  private[graft] def jaccardProfileSkewed(spark: SparkSession, dir: String): Boolean = {
    val docs = Core.documents(spark, dir)
    val n = math.max(1L, docs.count())
    val m = math.max(1L, n / 64L)
    val sample = withNgramArr(docs.filter(pmod(col("doc_id"), lit(m)) === 0))
      .select(explode(dng).as("ng"))
    val dfreq = sample.groupBy("ng").agg(count(lit(1)).as("df")).cache()
    try {
      // coalesce: sum over ZERO rows is NULL, and an empty corpus (a
      // routine empty slice at scale) must probe as not-skewed rather
      // than throw on the null row
      val total = dfreq.agg(coalesce(sum(col("df")), lit(0L))).head().getLong(0)
      if (total == 0L) false
      else {
        val top100 = dfreq.orderBy(col("df").desc).limit(100)
          .agg(sum(col("df"))).head().getLong(0)
        top100.toDouble / total >= jaccardSkewThreshold
      }
    } finally { dfreq.unpersist(); () }
  }

  /** The REGISTERED form — ADAPTIVE since r7: a frequency-profile
    * probe ([[jaccardProfileSkewed]]) picks the branch the fixtures
    * measured fastest for the corpus's shingle profile. Near-uniform
    * profile (this driver corpus) -> the every-shingle inverted index
    * + count-only pair aggregation below, which beats prefix filtering
    * 2.4x here because with no rare tail the prefix only halves the
    * candidates while every candidate pays an array_intersect verify
    * (see [[ngramJaccardPairsPrefix]] for the full QBench A/B).
    * Zipfian profile -> [[ngramJaccardPairsRareFirst]], measured 0.17x
    * candidate join rows on the Zipf fixture. Both branches are
    * output-equal (spec-asserted both ways, both corpora) and the
    * DuckDB oracle stays the single unpruned formulation. */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    if (jaccardProfileSkewed(spark, dir)) ngramJaccardPairsRareFirst(spark, dir)
    else ngramJaccardPairsCountAgg(spark, dir)

  private[graft] def ngramJaccardPairsCountAgg(spark: SparkSession, dir: String): DataFrame = {
    // set size n computed map-side from the deduped array — the
    // groupBy-count + broadcast-join-back of the naive form is a whole
    // extra aggregation pass the array form never pays
    // spreadNarrowScan: shingling + the exploded self-join probe run
    // pre-exchange (the cached table inherits the scan's partitioning,
    // and the join broadcasts one side at bench scale, so nothing
    // downstream re-spreads the quadratic candidate stream)
    val dn = withNgramArr(Core.spreadNarrowScan(Core.documents(spark, dir)))
      .select(col("doc_id"), size(dng).as("n"), explode(dng).as("ng"))
      .cache() // measured: this one self-join is 3x faster cached — the
    // generator fan-out feeding a non-trivial join condition defeats
    // exchange reuse here, unlike the band/signature self-joins below
    // length filter (set-similarity-join prune): J(A,B) <= min/max, so
    // pairs with 2*min < max can never reach 0.5 — drop them inside
    // the n-gram join instead of after counting. Output is unchanged
    // (the DuckDB oracle computes the unpruned form); the quadratic
    // candidate set shrinks by the size-skewed pairs.
    // count-only aggregation: the pair groupBy gets no reduction from
    // partial aggregation (each pair shares ~1.14 ngrams), so both
    // hash-agg phases dominate the query — carrying only the count
    // (not max(na)/max(nb) buffers) through them measured ~17% faster
    // same-JVM and confirmed cold-JVM at sf0.1 (7.36s vs 7.68s with
    // the max-carrying agg; the r2 bench "regression" vs r1 did not
    // reproduce cold — run-to-run variance); the per-doc sizes
    // re-attach afterwards via a broadcast of the tiny doc->size table
    val inter = dn.as("a").join(dn.as("b"),
        col("a.ng") === col("b.ng") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 2 >= col("b.n") && col("b.n") * 2 >= col("a.n"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    val sz = dn.select(col("doc_id"), col("n")).dropDuplicates("doc_id")
    inter
      .join(broadcast(sz.select(col("doc_id").as("doc_a"), col("n").as("na"))), "doc_a")
      .join(broadcast(sz.select(col("doc_id").as("doc_b"), col("n").as("nb"))), "doc_b")
      .withColumn("jaccard",
        col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("jaccard"))
  }

  val ngramJaccardPairsSql: String =
    s"""WITH dn AS (
       |  SELECT DISTINCT doc_id, unnest($ngramsSql) AS ng FROM documents),
       |sz AS (SELECT doc_id, count(*) AS n FROM dn GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |  FROM dn a JOIN dn b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_shared,
       |  CAST(n_shared AS DOUBLE) / CAST(sa.n + sb.n - n_shared AS DOUBLE) AS jaccard
       |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |WHERE CAST(n_shared AS DOUBLE) / CAST(sa.n + sb.n - n_shared AS DOUBLE) >= 0.5""".stripMargin

  /** MinHash + LSH banding: k=8 permutations (a*h+b mod P) over shingle
    * hashes -> 4 bands of 2 rows -> candidate pairs sharing a band.
    * Shuffles on doc_id (signature agg) then band key (bucket join) —
    * linear in corpus size; the scale path for near-dup dedup. */
  private val perms: Seq[(Long, Long)] = Seq(
    (131L, 7L), (137L, 11L), (139L, 13L), (149L, 17L),
    (151L, 19L), (157L, 23L), (163L, 29L), (167L, 31L))

  def minhashLshCandidates(spark: SparkSession, dir: String): DataFrame =
    minhashLshCandidatesReleasable(spark, dir)._1

  /** As [[minhashLshCandidates]], also exposing a RELEASE handle for
    * the barrier cache (r14, VERDICT r13 #6): the cached signature
    * projection below is a pushdown barrier that must stay live while
    * the candidate join evaluates, but a build thunk that MATERIALIZES
    * the candidates (the cluster-sidecar write, whose components loop
    * is eager) holds no further reference to it — without a release,
    * each distinct corpus fingerprint leaks one cached sketch table for
    * the JVM's lifetime. Release only after every consumer of the
    * returned frame has materialized; the registered candidates query
    * itself is lazy and keeps the cache (bounded: one entry per corpus
    * per JVM, and CacheManager dedupes identical plans). */
  private[graft] def minhashLshCandidatesReleasable(
      spark: SparkSession, dir: String): (DataFrame, () => Unit) = {
    // signatures are computed MAP-SIDE by the codegen'd MinHashSig
    // expression — one pass over each doc's shingle array for all 8
    // permutations, no exploded-shingle aggregation at all (the r3
    // groupBy form was already a partial-agg shuffle, but every
    // exploded row paid a hash probe against the 8-min buffer; the
    // sketch pass removes that stage entirely, and the first shuffle
    // in the plan is now the band join — the first key-dependent
    // step). Multiplicity needs no dedup: min() is invariant under
    // repeats, so the raw ngram array feeds the sketch directly.
    // filter(size(toks) > 2) preserves the exploded form's semantics
    // (docs with no trigram emitted no rows, so they had no signature).
    // the sketch emits the 4 band keys directly (combine=2: m0*P+m1),
    // so the fan-out is ONE posexplode whose pos IS the band index —
    // a single reference to the non-cheap sketch expression, immune
    // to projection-collapse duplication.
    // The cache is a PUSHDOWN BARRIER, not a convenience:
    // InferFiltersFromGenerate synthesizes size(bkeys)>0 guards under
    // the posexplode, and predicate pushdown then inlines the whole
    // alias chain — sketch, trigram lambda, and a PER-ELEMENT re-split
    // of the text (the O(len^2) trap) — into the scan's DataFilters on
    // BOTH join sides: plan-audited, 8.7s vs 0.5s at sf0.1. Caching
    // the 40-byte/doc signature table stops the push at the
    // InMemoryRelation and materializes the self-join's common
    // subtree once; at 100 TB the sketch table is ~3 orders smaller
    // than the corpus, the standard cache-the-sketch trade.
    // spreadNarrowScan: the sketch pass (trigram array + 8-permutation
    // min fold per doc) materializes INTO the cache with the scan's
    // partitioning — one task on a narrow scan
    val sig = minhashSigPlan(Core.spreadNarrowScan(Core.documents(spark, dir))).cache()
    val bands = sig
      .select(col("doc_id"), posexplode(col("bkeys")))
      .toDF("doc_id", "band", "bkey")
    // uncached: both bucket-join sides reuse the same exchange
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()
    (cand, () => { sig.unpersist(); () })
  }

  /** The MinHash band-key table as a reusable CTE chain (`sh` -> `sig`
    * -> `bands(doc_id, band, bkey)`) — shared by the candidates oracle
    * and the tombstone-probe oracle, so the two can never band
    * differently. */
  private val minhashBandsCte: String = {
    val minExprs = perms.zipWithIndex.map { case ((a, b), j) =>
      s"min((h * $a + $b) % $P) AS m$j"
    }.mkString(", ")
    val bandSelects = (0 until 4).map { bnd =>
      s"SELECT doc_id, $bnd AS band, m${2 * bnd} * $P + m${2 * bnd + 1} AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""sh AS (
       |  SELECT doc_id, ${charHashSql("ng")} AS h FROM (
       |    SELECT DISTINCT doc_id, unnest($ngramsSql) AS ng FROM documents)),
       |sig AS (SELECT doc_id, $minExprs FROM sh GROUP BY doc_id),
       |bands AS ($bandSelects)""".stripMargin
  }

  val minhashLshCandidatesSql: String =
    s"""WITH $minhashBandsCte
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id""".stripMargin

  /** SimHash (32-bit) from 3-gram shingle hashes with multiplicity:
    * per-bit +1/-1 majority vote -> packed long. (Shingles, not
    * tokens: the corpus vocabulary is tiny, so token-level votes are
    * correlated across unrelated docs; the ~10^4 shingle space
    * discriminates.) */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    // map-side codegen'd sketch (graft.functions.SimHashPack): the
    // majority votes for all 32 bits in one pass over the raw ngram
    // array (multiplicity preserved — votes weight by occurrence).
    // Identity mix (1,0) at width 32 = the low 32 bits of the poly
    // hash itself. Replaces the exploded 32-SUM aggregation; the
    // query is now a single scan with no shuffle at all.
    withNgramArr(Core.documents(spark, dir))
      .filter(size(toks) > 2)
      .select(col("doc_id"),
        graft.functions.simhash_pack(col("ngarr"), Seq((1L, 0L)), 32).as("simhash"))

  val simhashSql: String = {
    val bitSums = (0 until 32).map { j =>
      s"CAST(SUM(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$j"
    }.mkString(", ")
    val packed = (0 until 32).map { j =>
      s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, ${charHashSql("t")} AS h FROM (
       |    SELECT doc_id, unnest($ngramsSql) AS t FROM documents)),
       |sums AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id)
       |SELECT doc_id, $packed AS simhash FROM sums""".stripMargin
  }

  /** 64-bit SimHash. The poly hash is mod P ~ 2^20, so it carries only
    * ~20 informative bits — the 32-bit signature above wastes its top
    * 12 bits (always the -1 vote) and its band keys collide en masse
    * (r2 measurement: 25.5M banded candidates vs 12.5M raw pairs at
    * sf0.1). Here four independent affine mixes of the shingle hash
    * (gk = (h*ak+bk) mod P) each contribute their low 16 bits, giving
    * 64 informative vote dimensions. All arithmetic stays < 2^28 —
    * no BIGINT overflow for DuckDB — and packing uses bitwise OR of
    * disjoint one-bit masks (no signed-sum edge case at bit 63). */
  private val simhash64Mixes: Seq[(Long, Long)] =
    Seq((131L, 7L), (151L, 19L), (173L, 37L), (193L, 53L))

  /** The 64-bit sketch as a reusable column over a shingle array —
    * shared by the batch query below and the streaming near-dup
    * ingest (StreamingPipeline.streamingNearDupIngest). */
  def simhash64Col(ngarr: Column): Column =
    graft.functions.simhash_pack(ngarr, simhash64Mixes, 16)

  def simhash64(spark: SparkSession, dir: String): DataFrame =
    // map-side codegen'd sketch, four 16-bit mixes in one pass (see
    // [[simhash]]). The r3 path here — explode + 64 SUM buffers +
    // COUNT — was the measured cost of simhash_pairs, and rewriting
    // the vote expressions alone moved nothing (the buffer update
    // machinery dominated, not the votes); removing the aggregation
    // stage is the fix. The pair query's first shuffle is now its
    // band join. (Body = [[simhashSigs]], the rule shared with the
    // persisted-index build and probes.)
    simhashSigs(Core.documents(spark, dir))

  val simhash64Sql: String = {
    val gCols = simhash64Mixes.zipWithIndex.map { case ((a, b), k) =>
      s"(h * $a + $b) % $P AS g$k"
    }.mkString(", ")
    val bitSums = (0 until 64).map { j =>
      val (k, i) = (j / 16, j % 16)
      s"CAST(SUM(CASE WHEN ((g$k >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$j"
    }.mkString(", ")
    val packed = (0 until 64).map { j =>
      s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" | ")
    s"""WITH tok AS (
       |  SELECT doc_id, ${charHashSql("t")} AS h FROM (
       |    SELECT doc_id, unnest($ngramsSql) AS t FROM documents)),
       |g AS (SELECT doc_id, $gCols FROM tok),
       |sums AS (SELECT doc_id, $bitSums FROM g GROUP BY doc_id)
       |SELECT doc_id, $packed AS simhash64 FROM sums""".stripMargin
  }

  /** The 5-block pigeonhole band fan-out over a `simhash64` column —
    * ONE definition shared by the in-corpus pair search and the fuzzy
    * cross-split contamination query, because both exactness proofs
    * ("equals the all-pairs scan at hamming <= 4") depend on the
    * identical 13/13/13/13/12-bit block layout; [[bandKeysCol]] is the
    * flattened single-key form the persisted index uses. */
  private def bandPosexplode: Column = expr(
    "posexplode(transform(sequence(0, 4), i -> " +
      "shiftright(simhash64, cast(i * 13 AS INT)) & if(i = 4, 4095, 8191)))")

  /** SimHash near-dup pairs over the 64-bit signature, via EXACT
    * pigeonhole banding: the 64 bits split into 5 blocks (13,13,13,
    * 13,12); a pair within hamming distance 4 differs in at most 4
    * blocks, so at least one block matches exactly. Candidates come
    * from an equi-join on (block, block-bits) — a hash shuffle linear
    * in corpus size, no pair enumeration — and the exact hamming
    * filter makes the result identical to the all-pairs scan
    * ([[simhashPairsBroadcast]], equality-asserted in TextDedupSpec).
    * The oracle computes the all-pairs form; banding must reproduce
    * it bit-for-bit. 13-bit band keys give 8192 buckets per band —
    * the collision collapse that made 32-bit banding lose (only ~20
    * informative bits) is gone: cold-JVM at sf0.1 the banded form
    * measures even with the broadcast scan (5.38s vs 5.25s, both
    * signature-dominated), where the 32-bit banding was ~3x slower
    * than broadcast. At 100x corpus size broadcast goes quadratic
    * per executor; banded stays linear per bucket. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // cached for the same two reasons as the MinHash band table: the
    // posexplode's inferred size()>0 guard would otherwise push the
    // sketch -> trigram-lambda -> split alias chain into the scan
    // filters of both join sides (per-element re-split, plan-audited
    // 8.7s vs ~1s), and the 16-byte/doc signature is the self-join's
    // common subtree. The fan-out derives all 5 block keys inside ONE
    // transform lambda (the per-band struct list collapsed into 6
    // simhash_pack copies), with pos as the block index.
    // spreadNarrowScan before the sketch (same rationale as the
    // MinHash band table's cache): the 4-mix vote fold per doc is the
    // heavy term and lands in the cache at scan width
    val s = simhashSigs(Core.spreadNarrowScan(Core.documents(spark, dir))).cache()
    val bands = s
      .select(col("doc_id"), col("simhash64"), bandPosexplode)
      .toDF("doc_id", "simhash64", "band", "bkey")
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash64").bitwiseXOR(col("y.simhash64"))).as("hamming"))
      .filter(col("hamming") <= 4) // cheap + selective: filter before the pair dedup
      .distinct() // a pair can agree on several bands
  }

  // --- persisted cross-batch NEAR-dup index (simhash) ---------------------

  /** Signatures for an arbitrary documents frame — the one rule shared
    * by the in-corpus [[simhash64]] query, the persisted index build,
    * and the batch/streaming probes (same >2-token gate, same mixes). */
  private[graft] def simhashSigs(docs: DataFrame): DataFrame =
    withNgramArr(docs)
      .filter(size(toks) > 2)
      .select(col("doc_id"), simhash64Col(col("ngarr")).as("simhash64"))

  /** The 5 pigeonhole block keys of a signature, flattened to ONE
    * sortable key: bandkey = band * 8192 + blockBits (block widths
    * 13,13,13,13,12 keep every blockBits < 8192, so the flat key is
    * collision-free across bands). A single flat key — instead of the
    * (band, bkey) pair the self-join uses — is what makes the
    * persisted index's probe filter ONE `bandkey IN (...)` predicate
    * that parquet can evaluate against row-group min/max stats; a
    * mixed OR over a partition column and a data column would not
    * push down cleanly. */
  private def bandKeysCol: Column = expr(
    "transform(sequence(0, 4), i -> " +
      "i * 8192 + (shiftright(simhash64, cast(i * 13 AS INT)) & if(i = 4, 4095, 8191)))")

  /** PERSISTED NEAR-DUP INDEX — the cross-batch lifecycle for the
    * near-dup family, the same [[IndexStore]] lifecycle as the
    * exact-dedup digest index ([[writeDedupIndex]]) and the ANN index
    * ([[Similarity.writeIvfIndex]]): built by periodic batch jobs,
    * probed by ingests and streams. One row per (bandkey, doc) — 5
    * rows/doc — RANGE-partitioned and sorted by bandkey, so every
    * parquet file and row group covers a narrow bandkey slice and a
    * probe's `bandkey IN (...)` literal skips all others on footer
    * min/max stats alone (plan-asserted as a pushed filter in
    * TextDedupSpec). At 100 TB that layout IS the index: bytes read per
    * probe ~ (probed bandkeys / 40960) before any row is decoded. */
  def writeSimhashIndex(spark: SparkSession, dir: String, outDir: String): Unit =
    writeSimhashIndexFrom(Core.documents(spark, dir), outDir)

  /** Same build over an arbitrary documents frame — the periodic batch
    * job indexes whatever slice of the corpus is curated, not always a
    * whole testdata table (used by [[simhashIndexProbe]]). */
  def writeSimhashIndexFrom(docs: DataFrame, outDir: String): Unit =
    // deliberately NOT spreadNarrowScan'd: the range-layout exchange
    // follows immediately, so a fan-out only adds a shuffle and wider
    // scheduling per slice
    IndexStore.write(simhashLayout, simhashSigs(docs)
      .select(col("doc_id"), col("simhash64"), explode(bandKeysCol).as("bandkey")), outDir)

  /** The simhash index layout: (doc_id, simhash64, bandkey) rows
    * range-laid on bandkey. Rows are per-document and independent, so
    * a merge is a union + distinct (a doc indexed in two slices
    * collapses) and a takedown excludes the doc's own rows. */
  private[ops] val simhashLayout = IndexStore.Layout(Seq("doc_id", "simhash64", "bandkey"),
    writer = IndexStore.rangeLaid("bandkey"), fold = _.distinct(),
    tombstone = Some("doc_id" -> "doc_id"))

  /** Default gate for [[pruneIndexByProbedKeys]]: 10k keys ≈ a
    * 2,500-doc batch (4 band keys/doc) — well past any micro-batch,
    * well below the literal-list sizes that bloat driver planning. */
  private[graft] val probeKeyLiteralMax = 10000

  /** Index-scan pruning by a batch's probed keys, SIZE-GATED (r14,
    * VERDICT r13 #1 — the one remaining driver-side bottleneck). Below
    * `maxLiterals` distinct keys the key set is collected and pushed as
    * an `isin` literal list: parquet evaluates it against row-group /
    * file min-max footers, so a range-laid index skips whole files
    * before a row is decoded — the file-skip path every micro-batch
    * probe wants. ABOVE the gate the collect itself is the hazard (a
    * billion-doc daily batch is a multi-GB driver literal list and an
    * unplannable expression tree), so the key set stays distributed: a
    * broadcast LEFT SEMI join of the index against the batch's distinct
    * keys. That trades footer skipping for survival — the semi-join
    * still reads only index columns and emits only matching index rows,
    * the driver stays out of the data path, and the broadcast is
    * bounded by the distinct-key count (8 bytes/key ≈ 80 MB at 10M
    * keys). A batch big enough to break THAT is not an append any more,
    * it is the periodic compaction/rebuild. Both paths are the same
    * relation by construction (membership in the distinct key set);
    * TextDedupSpec forces the fallback with a tiny gate and asserts
    * frame equality against the literal path. The gating probe is
    * `limit(maxLiterals + 1).collect()` — bounded at ~10k rows even
    * when the batch has billions of keys. QBench cold-JVM sf0.1 after
    * the gate landed (fixture batches stay on the literal path):
    * `dedup_clusters_append_probe` [4.49, 1.77, 1.78]s vs r13's
    * [4.51, 1.94, 1.88], `simhash_index_probe` [2.28, 0.85, 0.78]s —
    * no fixture-scale regression. */
  private[graft] def pruneIndexByProbedKeys(index: DataFrame, probedKeys: DataFrame,
      keyCol: String, maxLiterals: Int): DataFrame = {
    val distinctKeys = probedKeys.select(keyCol).distinct()
    val sample = distinctKeys.limit(maxLiterals + 1).collect()
    if (sample.length <= maxLiterals)
      index.filter(col(keyCol).isin(sample.map(_.get(0)).toSeq: _*))
    else
      index.join(broadcast(distinctKeys), Seq(keyCol), "left_semi")
  }

  /** Probe a NEW batch of documents against a persisted simhash index:
    * emits one row per (batch doc, corpus doc) pair within hamming
    * distance 4 — the near-dup matches an ingest pipeline joins
    * against before admitting documents the exact-digest probe
    * ([[probeDedupIndex]]) couldn't catch. Exactness: the pigeonhole
    * banding guarantees every hamming<=4 pair shares a block, so the
    * candidate join + exact hamming verify equals the all-pairs scan
    * (spec-asserted against a direct broadcast computation). Plan
    * shape mirrors the exact-dedup probe: batch-side frames broadcast,
    * the index scans ONCE with the probed-bandkey predicate pushed in
    * via [[pruneIndexByProbedKeys]] (literal footer-skip for
    * micro-batches, broadcast semi-join above the size gate), and
    * nothing corpus-sized shuffles.
    *
    * DELETE path ([[writeSimhashIndexTombstones]]): tombstoned
    * doc_ids are dropped from the index scan BEFORE the candidate
    * join, so a taken-down document stops matching incoming batches
    * with no index rewrite — probe-time exclusion, the same contract
    * as [[graft.ops.Similarity.probeIvfIndex]]. Index rows are
    * per-document and independent (no keeper election, no cluster
    * membership), so exclusion here IS the full delete semantics: the
    * probe answers exactly as if the index had been rebuilt without
    * the tombstoned docs (spec-asserted frame-equal) — the only
    * residue is the physical bytes, which [[compactSimhashIndex]]
    * hard-forgets. */
  def probeSimhashIndex(spark: SparkSession, batch: DataFrame, indexDir: String,
      maxKeyLiterals: Int = probeKeyLiteralMax,
      tombstoneTable: Option[DataFrame] = None,
      memo: Core.FsMemo = new Core.FsMemo): DataFrame = {
    // probe side NOT fanned out: probes run per micro-batch in the
    // streaming wrappers, where the batch is small by contract
    val b = simhashSigs(batch)
      .select(col("doc_id").as("probe_id"), col("simhash64").as("probe_sig"),
        explode(bandKeysCol).as("bandkey"))
    IndexStore.liveView(spark, simhashLayout, indexDir, tombstoneTable, memo)(
        pruneIndexByProbedKeys(_, b, "bandkey", maxKeyLiterals))
      .join(broadcast(b), Seq("bandkey"))
      .select(col("probe_id"), col("doc_id").as("match_id"),
        bit_count(col("probe_sig").bitwiseXOR(col("simhash64"))).as("hamming"))
      .filter(col("hamming") <= 4)
      .distinct() // a pair can agree on several blocks
  }

  /** STREAMING near-dup gate: incoming drops probed against the
    * persisted simhash index per micro-batch, matches landed
    * idempotently (K1 sink rule). Index immutable during the stream,
    * republished by the periodic batch rebuild — the same
    * batch-index/stream-probe split as [[streamingDedupProbe]] and
    * [[Similarity.streamingIvfProbe]]. */
  def streamingSimhashProbe(spark: SparkSession, incoming: DataFrame,
      indexDir: String, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StreamingPipeline.probeStream(incoming, outDir, checkpoint) { (batch, _, memo) =>
      probeSimhashIndex(spark, batch, indexDir, memo = memo)
    }

  /** REGISTERED end-to-end exercise of the persisted simhash index
    * under the driver's oracle gate (VERDICT r7 #4): split the corpus
    * deterministically — even doc_ids are "the accumulated corpus",
    * odd doc_ids are "today's ingest" — build the index from the even
    * half into a temp dir, then [[probeSimhashIndex]] the odd half
    * against it. Emits every (probe, corpus) pair within hamming 4.
    * The DuckDB oracle is the all-pairs odd×even scan over the same
    * 64-bit signatures; pigeonhole banding must reproduce it exactly,
    * which also pins the index round-trip (write → parquet → filter →
    * join) bit-for-bit, not just the in-memory plan the unit test
    * covers. Index build runs eagerly at DataFrame-construction time
    * (the [[dedupClusters]] precedent). */
  def simhashIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
    val idxDir = IndexStore.evenHalf("simhash_index_probe", dir, docs)(writeSimhashIndexFrom)
    probeSimhashIndex(spark, docs.filter(col("doc_id") % 2 === 1), idxDir)
  }

  /** The probe oracle, parameterized by the corpus/batch split — the
    * same one-checked-shape rule as [[dedupIndexProbeSqlFor]]. */
  private def simhashIndexProbeSqlFor(idxPred: String, batchPred: String): String =
    s"""WITH s AS ($simhash64Sql),
       |e AS (SELECT doc_id, simhash64 FROM s WHERE $idxPred),
       |o AS (SELECT doc_id, simhash64 FROM s WHERE $batchPred)
       |SELECT o.doc_id AS probe_id, e.doc_id AS match_id,
       |  CAST(bit_count(xor(o.simhash64, e.simhash64)) AS INTEGER) AS hamming
       |FROM o JOIN e ON bit_count(xor(o.simhash64, e.simhash64)) <= 4""".stripMargin

  val simhashIndexProbeSql: String =
    simhashIndexProbeSqlFor("doc_id % 2 = 0", "doc_id % 2 = 1")

  /** REGISTERED merge-lifecycle exercise for the NEAR-DUP index —
    * [[dedupIndexMergeProbe]]'s twin over [[mergeSimhashIndexes]].
    * Three corpus slices (doc_id % 4 = 0/1/2) are signature-indexed
    * separately, merged (union + distinct, re-laid into the
    * bandkey-range layout the probe's footer pruning needs), and the
    * remainder probed. The oracle is the flat all-pairs batch x union
    * scan — a hash match proves the merged layout serves probes exactly
    * like a full rebuild, through the parquet round-trip. */
  def simhashIndexMergeProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
    val merged = IndexStore.mergedSlices("simhash_index_merged", dir, docs)(
      writeSimhashIndexFrom)(mergeSimhashIndexes(spark, _, _))
    probeSimhashIndex(spark, docs.filter(col("doc_id") % 4 === 3), merged)
  }

  val simhashIndexMergeProbeSql: String =
    simhashIndexProbeSqlFor("doc_id % 4 < 3", "doc_id % 4 = 3")

  /** DELETE path for the persisted simhash index: accumulate a
    * takedown list in the index's tombstone sidecar
    * ([[IndexStore.accumulateTombstones]]: duplicate ids inert, no
    * absent-dest window, single-writer under quiesce). Takes effect on
    * the next [[probeSimhashIndex]] with NO index rewrite;
    * [[compactSimhashIndex]] is the hard-forget. */
  def writeSimhashIndexTombstones(spark: SparkSession, docIds: DataFrame,
      indexDir: String): Unit =
    IndexStore.writeTombstones(simhashLayout, docIds, indexDir)

  /** HARD-FORGET compaction for a tombstoned simhash index: rewrite
    * the index minus the tombstoned docs' rows into a fresh dir,
    * restoring the bandkey-range layout the probe's footer pruning
    * relies on. Because index rows are per-document and independent
    * (no keeper election — contrast [[compactDedupIndex]]'s scaladoc),
    * the compacted index IS the index a full rebuild over the live
    * corpus would produce for every doc that carried a signature
    * (spec-asserted probe equality), and no tombstone table lands in
    * the new dir — the ids are forgotten, not filtered. Rewrites
    * index rows only (5 per doc), never documents. */
  def compactSimhashIndex(spark: SparkSession, indexDir: String,
      newDir: String): Unit =
    IndexStore.compact(spark, simhashLayout, indexDir, newDir, "compactSimhashIndex")()

  /** REGISTERED exercise of the simhash DELETE path under the
    * oracle gate. Fixture shape — chosen for SF-INVARIANT
    * non-vacuity (a slice that happens to miss at one SF proves
    * nothing): the standing index is the even-id half
    * (SHARING the `simhash_index_probe` ProbeTemp build — a takedown
    * list is data evaluated against the immutable snapshot, passed
    * explicitly so the shared artifacts stay untouched), and the probe
    * batch is the WHOLE corpus with ids shifted far above the id
    * space, so every indexed document meets its shifted twin at
    * hamming 0 — by construction half the batch always matches, and
    * tombstoning the `doc_id % 10 = 4` slice (all even, all indexed)
    * always drops ~a tenth of the standing matches, at EVERY SF. What
    * the gate pins: exclusion before the candidate join, through the
    * parquet round-trip — a probe that filtered after the hamming
    * verify, or missed the sidecar, or dropped probe-side rows too,
    * hash-mismatches. */
  def simhashIndexTombstoneProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
    val idxDir = IndexStore.evenHalf("simhash_index_probe", dir, docs)(writeSimhashIndexFrom)
    probeSimhashIndex(spark,
      docs.withColumn("doc_id", col("doc_id") + lit(10000000000L)), idxDir,
      tombstoneTable = Some(docs.filter(col("doc_id") % 10 === 4).select("doc_id")))
  }

  /** [[simhashIndexProbeSqlFor]]'s shape with the index side filtered
    * to live rows and the batch side id-shifted — assignment of
    * signatures is corpus-wide, exclusion applies to the INDEX side
    * only. */
  val simhashIndexTombstoneProbeSql: String =
    s"""WITH s AS ($simhash64Sql),
       |e AS (SELECT doc_id, simhash64 FROM s
       |  WHERE doc_id % 2 = 0 AND doc_id % 10 <> 4),
       |o AS (SELECT doc_id + 10000000000 AS doc_id, simhash64 FROM s)
       |SELECT o.doc_id AS probe_id, e.doc_id AS match_id,
       |  CAST(bit_count(xor(o.simhash64, e.simhash64)) AS INTEGER) AS hamming
       |FROM o JOIN e ON bit_count(xor(o.simhash64, e.simhash64)) <= 4""".stripMargin

  /** The broadcast all-pairs scan — the equality baseline for the
    * banded form (the ~8-byte/doc signature table broadcasts even at
    * 10^8 docs, but each executor still streams O(n^2) comparisons;
    * banding is the scale path). Spec-only, not registered. */
  def simhashPairsBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val s = simhash64(spark, dir)
    s.as("a").join(broadcast(s.as("b")), col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming", bit_count(col("a.simhash64").bitwiseXOR(col("b.simhash64"))))
      .filter(col("hamming") <= 4)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("hamming"))
  }

  val simhashPairsSql: String =
    s"""WITH s AS ($simhash64Sql)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash64, b.simhash64)) AS INTEGER) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 4""".stripMargin

  /** Near-dup CLUSTERING — the step between candidate pairs and
    * actually dropping rows: connected components over the MinHash+LSH
    * candidate graph, survivor = min doc_id per component. Emits one
    * row per clustered document (doc_id, cluster_id, cluster_size,
    * is_survivor); documents with no near-dup candidate are unique and
    * excluded (they'd be n singleton rows of no decision value).
    *
    * Spark-first iterative algorithm, no graph library: min-label
    * propagation to fixpoint. Each round is one shuffle join of the
    * edge list against the label table (both hash-partitioned on the
    * node key) + a min-aggregate; rounds needed = component diameter,
    * which for near-dup clusters is tiny (dup groups are cliques-ish,
    * measured 1-2 rounds on this corpus). Lineage is truncated with
    * localCheckpoint each round so the plan doesn't nest per
    * iteration. The DuckDB oracle computes the same components via a
    * recursive transitive-closure CTE — tractable because components
    * are small, while the Spark side never materializes reachability.
    *
    * NOTE: the convergence loop runs Spark jobs eagerly at
    * DataFrame-construction time (like ivfTopK's centroid sample).
    *
    * TRAIN-ONCE sidecar (r13, the r12 BPE merge-table pattern): the
    * cluster table is memoized per corpus as a ProbeTemp parquet
    * artifact, because THREE registered queries evaluate it —
    * [[dedupClusters]] itself, [[dedupApply]], and [[docAttributes]]
    * (via dedupApply) — and each evaluation re-ran the full MinHash
    * band generator plus the O(log n) components loop. At 100 TB those
    * are corpus-scale passes: a production pipeline materializes the
    * cluster/verdict sidecar once per curation run and every consumer
    * joins it. The artifact is cluster-rows-only ((doc_id, cluster_id,
    * cluster_size, is_survivor) — long/long/long/boolean, exact
    * through the parquet round-trip; TextDedupSpec asserts artifact ==
    * direct loop output), so it is tiny relative to its corpus.
    * Measured (QBench sf0.1, reps share the JVM so the steady state
    * shows the reuse; identical row counts both sides, back-to-back
    * A/B on the same box): `dedup_apply` [4.62, 3.04, 2.37] ->
    * [2.32, 0.42, 0.46]s, `doc_attributes` [4.54, 3.39, 3.54] ->
    * [2.48, 0.78, 0.95]s, `dedup_clusters` [2.39, 1.21, 1.13] ->
    * [2.01, 0.13, 0.15]s; rep0 carries the one-time loop build. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val d = ProbeTemp.dir("dedup_clusters", dir) { d =>
      // cache scoped to the build thunk (r14, VERDICT r13 #6): the
      // components loop is eager, so by the write the cluster frame is
      // checkpoint-rooted and the sketch cache is unreferenced
      val (cand, release) = minhashLshCandidatesReleasable(spark, dir)
      try Components.clusterPairs(cand, "doc_a", "doc_b", "doc_id")
        .write.mode("overwrite").parquet(d)
      finally release()
    }
    spark.read.parquet(d)
  }

  /** The un-memoized cluster loop — the artifact's builder, kept
    * reachable for the artifact==direct equality spec. */
  private[graft] def dedupClustersDirect(spark: SparkSession, dir: String): DataFrame =
    // propagation loop + one-job-per-round convergence carry live in
    // the shared Components.clusterPairs (also drives the embedding
    // semantic-dedup clusters)
    Components.clusterPairs(minhashLshCandidates(spark, dir), "doc_a", "doc_b", "doc_id")

  // MATERIALIZED (r9): DuckDB inlines non-materialized CTEs at every
  // reference, and `edges` is referenced from INSIDE the recursive
  // `reach` term — without the hint the full candidate-pair subquery
  // re-evaluates on every fixpoint iteration, turning a
  // seconds-per-pass plan into hours on a large corpus slice (the
  // n=10,000 tier-2 parity run surfaced it). The hint changes
  // evaluation count only, never values.
  val dedupClustersSql: String =
    s"""WITH RECURSIVE cand AS MATERIALIZED ($minhashLshCandidatesSql),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM cand
       |  UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |labels AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |  FROM reach GROUP BY src),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)
       |SELECT l.doc_id, l.cluster_id, s.cluster_size,
       |  l.doc_id = l.cluster_id AS is_survivor
       |FROM labels l JOIN sizes s USING (cluster_id)""".stripMargin

  /** The per-doc MinHash band-key table (doc_id, band, bkey) — 4
    * rows/doc, the thing the incremental cluster path persists and
    * probes. Same sketch expression as [[minhashLshCandidates]], so
    * the two paths can never band differently. The cache on the
    * signature projection is the same PUSHDOWN BARRIER documented
    * there (InferFiltersFromGenerate would otherwise inline the sketch
    * + per-element re-split into both join sides' scan filters). */
  /** The MinHash signature projection WITHOUT the cache call — the one
    * plan both barrier-cache sites wrap, and the spec's probe frame for
    * asserting release (Dataset.storageLevel looks a plan up in
    * CacheManager by canonical form without caching anything). */
  private[graft] def minhashSigPlan(docs: DataFrame): DataFrame =
    withNgramArr(docs)
      .filter(size(toks) > 2)
      .select(col("doc_id"),
        graft.functions.min_hash_sig(col("ngarr"), perms, combine = 2).as("bkeys"))

  private[graft] def minhashBands(docs: DataFrame): (DataFrame, () => Unit) = {
    // deliberately NOT spreadNarrowScan'd (r17): this helper also runs
    // per micro-batch in the append paths, where the batch is small by
    // contract and a fan-out is pure exchange/scheduling overhead —
    // the corpus-sized standing build spreads its input at the caller
    // (writeClusterAppendArtifacts) instead
    val sig = minhashSigPlan(docs).cache()
    val bands = sig
      .select(col("doc_id"), posexplode(col("bkeys")))
      .toDF("doc_id", "band", "bkey")
    // release handle (r14, ADVICE r13): without it streamingClusterAppend
    // registered one fresh cached sketch table PER MICRO-BATCH for the
    // stream's lifetime — call once the eager components loop (or the
    // artifact write) has materialized every consumer of `bands`
    (bands, () => { sig.unpersist(); () })
  }

  /** Candidate pairs from a band-key table: the band bucket self-join
    * of [[minhashLshCandidates]], factored over an arbitrary band
    * frame so the incremental path can run it over a PARQUET-backed
    * index or a batch's band table. */
  private def candidatePairsOver(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()

  /** INCREMENTAL cluster maintenance: the index lifecycle (build ->
    * probe -> append) applied to the near-dup CLUSTER family, so that
    * absorbing a day's batch does not re-band the accumulated corpus
    * against itself.
    *
    * Fixture split (the *_probe convention): even doc_ids are the
    * accumulated corpus, odd doc_ids are today's batch. The BUILD
    * (ProbeTemp, once per corpus) persists the standing corpus's
    * band-key INDEX and cluster SIDECAR ([[writeClusterAppendArtifacts]]);
    * the PROBE is [[Components.appendClusters]], which touches only
    * batch-sized and index-sized data and whose star-replacement
    * argument makes the output equal the full-corpus rebuild, so it
    * shares [[dedupClustersSql]] as its DuckDB oracle verbatim.
    * Spec-asserted frame-equal to dedupClustersDirect on the full
    * corpus. Per batch the accumulated corpus's TEXT is never re-read
    * and never re-banded; the full rebuild remains the periodic
    * compaction step, like the IVF append's retrain. */
  def dedupClustersAppendProbe(spark: SparkSession, dir: String): DataFrame = {
    val root = standingClusterRoot(spark, dir)
    Components.appendClusters(spark, clusterTerms,
      Core.documents(spark, dir).filter(col("doc_id") % 2 === 1), root)
  }

  /** The registered cluster probes' shared standing build: the even-id
    * half of the corpus, built once per corpus into one ProbeTemp kind,
    * so the append, tombstone and cumulative probes read the same
    * immutable artifacts. */
  private def standingClusterRoot(spark: SparkSession, dir: String): String =
    IndexStore.evenHalf("dedup_clusters_append", dir, Core.documents(spark, dir))(
      writeClusterAppendArtifacts(spark, _, _))

  /** The standing corpus's two append artifacts: its band-key INDEX
    * (range-laid on (band, bkey) so a probe's pushed bkey literals
    * skip whole files) and its cluster SIDECAR (built by self-joining
    * the just-written index — the build eats the same artifact the
    * probe does). One call per corpus snapshot / compaction cycle. */
  def writeClusterAppendArtifacts(spark: SparkSession, standing: DataFrame,
      root: String): Unit = {
    // spreadNarrowScan here, not in minhashBands: the STANDING corpus
    // is the corpus-sized side (the per-batch append keeps its narrow
    // micro-batch frames)
    val (bands, release) = minhashBands(Core.spreadNarrowScan(standing))
    try {
      IndexStore.rangeLaid("band", "bkey")(bands).mode("overwrite").parquet(s"$root/bandidx")
      Components.clusterPairs(
        candidatePairsOver(spark.read.parquet(s"$root/bandidx")),
        "doc_a", "doc_b", "doc_id")
        .write.mode("overwrite").parquet(s"$root/clusters")
    } finally release()
  }

  /** DELETE path for the cluster lifecycle: record documents to
    * FORGET (takedowns, re-crawls) as a tombstone table under the
    * standing artifacts. [[Components.appendClusters]] honors it on
    * its next probe: tombstoned docs are dropped from the band-index
    * scan (no new candidate can match them) and from the star replay
    * (they never appear in any emitted cluster), and a standing
    * cluster whose hub was tombstoned re-elects its hub among the
    * remaining members. Tombstoning is eventually consistent, the
    * standard LSM posture: connectivity a deleted doc CONTRIBUTED (a
    * bridge whose removal would split its cluster under a rebuild)
    * persists until the next full rebuild ([[writeClusterAppendArtifacts]]
    * over the corpus minus tombstones), because the star records
    * membership, not edges. When no tombstoned doc cuts its cluster's
    * candidate graph, the append equals the rebuild exactly
    * (spec-asserted on a clique fixture). Calls ACCUMULATE (see
    * [[IndexStore.accumulateTombstones]]), so a second takedown never
    * resurrects earlier ones. Quiesce a live stream first: the standing
    * artifacts are static for a stream's lifetime. */
  def writeClusterTombstones(spark: SparkSession, docIds: DataFrame,
      root: String): Unit =
    IndexStore.accumulateTombstones(docIds, IndexStore.clusterTombstones(root), "doc_id")

  /** The text family's candidate source for [[Components.appendClusters]]:
    * the batch's MinHash band keys, their within-batch bucket pairs,
    * and the cross term as a (band, bkey) equi-join. Keys are probed
    * on bkey alone (4 per doc): a cross-band bkey collision over-reads
    * a few index rows, which the equi-join then drops. A batch doc
    * re-ingesting an indexed id (a replay across a rebuild, an upsert)
    * must not self-pair: an (A, A) edge would make an unmatched A a
    * singleton cluster the rebuild does not emit. */
  private[graft] def clusterTerms(batch: DataFrame,
      maxKeyLiterals: Int): Components.ClusterTerms = {
    val (bands, release) = minhashBands(batch)
    Components.ClusterTerms("doc_id", "doc_a", "doc_b", bands, "bkey", Nil,
      within = candidatePairsOver(bands),
      cross = (keyed, _) =>
        keyed.select(col("doc_id").as("idx_id"), col("band"), col("bkey"))
          .join(bands.select(col("doc_id").as("new_id"), col("band"), col("bkey")),
            Seq("band", "bkey"))
          .filter(col("idx_id") =!= col("new_id"))
          .select(least(col("idx_id"), col("new_id")).as("doc_a"),
            greatest(col("idx_id"), col("new_id")).as("doc_b")),
      release = release)
  }

  /** STREAMING cluster append, the per-batch form of
    * [[dedupClustersAppendProbe]]: each micro-batch of documents is
    * clustered against the standing band index + cluster sidecar and
    * lands idempotently under its batch_id partition. The standing
    * artifacts are STATIC for the stream's lifetime, so each batch
    * clusters against the standing corpus and itself, not against
    * earlier batches ([[streamingClusterAppendCumulative]] does that);
    * [[writeClusterAppendArtifacts]] is the periodic compaction. Input
    * schema: (doc_id long, text string, ...). */
  def streamingClusterAppend(spark: SparkSession, docs: DataFrame,
      artifactsRoot: String, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StreamingPipeline.probeStream(docs, outDir, checkpoint) { (batch, _, memo) =>
      Components.appendClusters(spark, clusterTerms, batch, artifactsRoot, memo = memo)
    }

  /** CUMULATIVE streaming cluster maintenance: as
    * [[streamingClusterAppend]], but each batch also clusters against
    * every EARLIER batch, so two near-dup documents arriving in
    * different micro-batches cluster at once instead of at the next
    * compaction. Per-stream state under `stateDir` holds every prior
    * batch's band table (bands/batch_id=K) and the latest emitted
    * cluster table (clusters/batch_id=K), which replaces the standing
    * sidecar as the star source. The latest batch_id partition under
    * `outDir` is the cluster assignment of everything ingested and
    * equals the full rebuild over standing ∪ all batches (induction,
    * tombstone and replay arguments on [[Components.appendClusters]]).
    * State compacts via [[compactClusterState]]. */
  def streamingClusterAppendCumulative(spark: SparkSession, docs: DataFrame,
      artifactsRoot: String, stateDir: String, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StreamingPipeline.probeStream(docs, outDir, checkpoint) { (batch, batchId, memo) =>
      Components.appendClusters(spark, clusterTerms, batch, artifactsRoot,
        Some(batchId -> stateDir), memo = memo)
    }

  /** COMPACTION for the cumulative stream's state: fold the
    * accumulated per-batch state + the standing artifacts into NEW
    * standing artifacts under `newRoot`, then truncate `stateDir`,
    * after which a fresh cumulative (or plain [[streamingClusterAppend]])
    * stream against `newRoot` continues exactly where the old one left
    * off.
    *
    * The fold never re-reads or re-bands any text: the new band index
    * is the standing index ∪ the accumulated batch band tables,
    * re-range-laid on (band, bkey) so probe pushdown keeps skipping
    * files; the new cluster sidecar IS the latest cumulative output,
    * which by the convergence invariant equals the full rebuild's
    * cluster table. The full rebuild ([[writeClusterAppendArtifacts]])
    * remains the path that re-picks banding geometry or hard-forgets
    * tombstones.
    *
    * CONTRACTS enforced fail-fast: the three directories must be
    * pairwise DISTINCT (the fold reads the old index lazily while
    * writing the new one, and the closing truncation would otherwise
    * delete the just-written artifacts); the state must be non-empty;
    * and `artifactsRoot` must carry NO tombstone table (the fold
    * unions the standing index verbatim, tombstoned rows included, and
    * the fresh root would no longer exclude them). Quiesce any live
    * stream first. Spec-asserted: a stream split by a mid-stream
    * compaction lands frame-equal to the uncompacted full-corpus
    * rebuild. */
  def compactClusterState(spark: SparkSession, artifactsRoot: String,
      stateDir: String, newRoot: String): Unit =
    Core.compactStateFold(spark, artifactsRoot, stateDir, newRoot,
      Seq(Core.StateFold("bandidx", "bands",
        Seq("doc_id", "band", "bkey"), Seq("band", "bkey"))),
      tombstoneMsg =
        s"$artifactsRoot carries a tombstone table: the cheap fold unions " +
          "the standing band index verbatim (tombstoned index rows included) " +
          "and the fresh root would drop the exclusion — takedowns would " +
          "silently resurrect; compact a takedown corpus via " +
          "writeClusterAppendArtifacts over the corpus minus tombstones " +
          "(the hard-forget path)")

  /** The oracle IS the full-corpus cluster oracle: the star-replacement
    * argument makes the incremental result equal the rebuild. */
  val dedupClustersAppendProbeSql: String = dedupClustersSql

  /** REGISTERED exercise of the cumulative append under the driver's
    * oracle gate: the shared even-id standing build, and the odd batch
    * split into THREE sub-batches (doc_id % 6 ∈ {1,3,5}) fed
    * sequentially with a real stateDir. Batch 2 reads batch 1's band
    * state, batch 3 reads both and replays batch 2's cluster output as
    * its star source, so every state path (prior-bands cross,
    * latest-cluster star, idempotent partition writes) runs under the
    * gate. The last batch's output equals the full-corpus rebuild by
    * induction, so the oracle is [[dedupClustersSql]] VERBATIM
    * (TextDedupSpec asserts the % 6 split separates same-cluster docs
    * at parity SF, so the gate is non-vacuous). stateDir is a
    * per-invocation scratch dir, never memoized: two live invocations
    * sharing one would interleave their partitions.
    *
    * THREE batches is the minimum: batch 3 is the only batch whose
    * prior state spans SEVERAL batch_id partitions, so it alone
    * exercises the latest-cluster pick among several candidates (over
    * one prior batch a min/union-all/unfiltered-read bug is invisible)
    * and the band-state read across partition values (where partition
    * type inference reads batch_id back as int). */
  def dedupClustersCumulativeProbe(spark: SparkSession, dir: String): DataFrame = {
    val root = standingClusterRoot(spark, dir)
    val stateDir = ProbeTemp.scratch("cclu_state")
    val odd = Core.documents(spark, dir).filter(col("doc_id") % 2 === 1)
    Seq(1, 3, 5).zipWithIndex.map { case (m, i) =>
      Components.appendClusters(spark, clusterTerms,
        odd.filter(col("doc_id") % 6 === m), root, Some(i.toLong -> stateDir))
    }.last
  }

  /** Same induction: after the last batch the cumulative table equals
    * the rebuild over standing ∪ all batches = the full corpus. */
  val dedupClustersCumulativeProbeSql: String = dedupClustersSql

  /** REGISTERED composition of the cumulative stream with the DELETE
    * path: the shared even-id standing build, every doc_id % 10 = 4
    * tombstoned (the tombstone probe's fixture), and the odd half fed
    * as TWO sub-batches (doc_id % 4 ∈ {1,3}, a complete partition of
    * the odd ids, so the ingested corpus is the single-shot tombstone
    * probe's). Two batches exercise every tombstone-relevant path
    * (batch-1 standing re-election, batch-2 state replay + filtered
    * standing cross); the deeper induction is gated tombstone-free.
    * The takedown table is passed explicitly per batch (immutable
    * shared artifacts). Tombstones only change the STANDING terms,
    * identically in both forms, so the final output equals
    * [[dedupClustersTombstoneProbe]] and the oracle is
    * [[dedupClustersTombstoneProbeSql]] VERBATIM: one DuckDB hash
    * match pins exclusion, re-election AND the cross-batch merge. */
  def dedupClustersCumulativeTombstoneProbe(spark: SparkSession, dir: String): DataFrame = {
    val root = standingClusterRoot(spark, dir)
    val stateDir = ProbeTemp.scratch("cclu_tomb_state")
    val docs = Core.documents(spark, dir)
    val tomb = Some(docs.filter(col("doc_id") % 10 === 4).select("doc_id"))
    val odd = docs.filter(col("doc_id") % 2 === 1)
    Seq(1, 3).zipWithIndex.map { case (m, i) =>
      Components.appendClusters(spark, clusterTerms, odd.filter(col("doc_id") % 4 === m),
        root, Some(i.toLong -> stateDir), tombstoneTable = tomb)
    }.last
  }

  // def, not val: the aliased SQL is declared later in this object —
  // a val here would capture null at object init
  def dedupClustersCumulativeTombstoneProbeSql: String =
    dedupClustersTombstoneProbeSql

  /** REGISTERED exercise of the tombstone DELETE path under the
    * driver's oracle gate: the shared even-id standing build, every
    * doc_id % 10 = 4 tombstoned (a deterministic standing slice, some
    * of it inside clusters and as hubs, so the star filter and hub
    * re-election genuinely run; spec-asserted non-vacuous), and the
    * odd-id batch appended. The DuckDB oracle replicates the
    * DOCUMENTED append-with-tombstones semantics, not a rebuild:
    * even-side components (recursive CTE #1) -> live members ->
    * re-elected hubs -> star edges, unioned with the banded cross
    * (batch x live index) and within-batch edges, then full components
    * (recursive CTE #2). A hash match therefore pins exclusion,
    * no-new-matches, hub re-election AND the bridge-preservation
    * behavior through the parquet round-trip. Both oracles derive
    * their band keys from [[minhashBandsCte]], so the engines can
    * never band differently. The tombstone table is passed explicitly
    * so the shared artifacts stay untouched; the parquet tombstone
    * round-trip is spec-covered via [[writeClusterTombstones]]. */
  def dedupClustersTombstoneProbe(spark: SparkSession, dir: String): DataFrame = {
    val root = standingClusterRoot(spark, dir)
    val docs = Core.documents(spark, dir)
    Components.appendClusters(spark, clusterTerms, docs.filter(col("doc_id") % 2 === 1),
      root, tombstoneTable = Some(docs.filter(col("doc_id") % 10 === 4).select("doc_id")))
  }

  val dedupClustersTombstoneProbeSql: String =
    s"""WITH RECURSIVE $minhashBandsCte,
       |ecand AS MATERIALIZED (
       |  SELECT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |  WHERE x.doc_id % 2 = 0 AND y.doc_id % 2 = 0),
       |eedges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM ecand UNION ALL SELECT b, a FROM ecand),
       |ereach(src, dst) AS (
       |  SELECT src, dst FROM eedges
       |  UNION
       |  SELECT r.src, e.dst FROM ereach r JOIN eedges e ON r.dst = e.src),
       |elabels AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |  FROM ereach GROUP BY src),
       |live AS (SELECT * FROM elabels WHERE doc_id % 10 <> 4),
       |hubs AS (SELECT cluster_id, min(doc_id) AS hub FROM live GROUP BY 1),
       |star AS (
       |  SELECT h.hub AS a, l.doc_id AS b FROM live l
       |  JOIN hubs h USING (cluster_id) WHERE l.doc_id <> h.hub),
       |bo AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
       |be AS (SELECT * FROM bands WHERE doc_id % 2 = 0 AND doc_id % 10 <> 4),
       |crossb AS (
       |  SELECT DISTINCT least(o.doc_id, e.doc_id) AS a,
       |    greatest(o.doc_id, e.doc_id) AS b
       |  FROM bo o JOIN be e ON o.band = e.band AND o.bkey = e.bkey),
       |withinb AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bo x JOIN bo y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |cand AS MATERIALIZED (
       |  SELECT a, b FROM crossb UNION SELECT a, b FROM withinb
       |  UNION SELECT a, b FROM star),
       |edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM cand UNION ALL SELECT b, a FROM cand),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |labels AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |  FROM reach GROUP BY src),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)
       |SELECT l.doc_id, l.cluster_id, s.cluster_size,
       |  l.doc_id = l.cluster_id AS is_survivor
       |FROM labels l JOIN sizes s USING (cluster_id)""".stripMargin

  /** The dedup DECISION layer applied to the corpus: one verdict per
    * document, layering exact dedup over near-dup clustering the way a
    * production pipeline drops rows —
    *   'exact_dup' — not the min-doc_id holder of its md5 digest;
    *   'near_dup'  — exact survivor, but a clustered non-survivor;
    *   'kept'      — everything else (incl. cluster survivors).
    * Exact takes precedence (a byte-identical copy is dropped by the
    * cheap digest pass before any sketch runs). The verdict table is
    * what downstream stages filter on (`verdict = 'kept'`) while audits
    * retain the why.
    *
    * Plan shape: digest min-agg (one shuffle on the digest) joined back
    * to the corpus on digest, left-joined to the cluster labels on
    * doc_id — all linear, the cluster side is [[dedupClusters]]'s
    * output (clustered docs only, so the left join's null case IS the
    * unique-document case). */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    // null text gets a sentinel digest class (all null-text docs are
    // byte-identical to each other): md5(NULL) is NULL, and a NULL key
    // never matches an inner equi-join, so without the coalesce a
    // null-text document would silently receive NO verdict row at all
    // — breaking the one-verdict-per-document contract this table
    // exists to provide
    val docs = Core.documents(spark, dir)
      .select(col("doc_id"),
        coalesce(md5(col("text").cast("binary")), lit("(null-text)")).as("digest"))
    val exactKeep = docs.groupBy("digest").agg(min(col("doc_id")).as("keep_id"))
    val clusters = dedupClusters(spark, dir)
      .select(col("doc_id"), col("is_survivor"))
    docs.join(exactKeep, "digest")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("keep_id"), lit("exact_dup"))
          .when(col("is_survivor") === false, lit("near_dup"))
          .otherwise(lit("kept")).as("verdict"))
  }

  val dedupApplySql: String =
    s"""WITH clusters AS ($dedupClustersSql),
       |d AS (SELECT doc_id, coalesce(md5(text), '(null-text)') AS digest FROM documents),
       |ek AS (SELECT digest, min(doc_id) AS keep_id FROM d GROUP BY 1)
       |SELECT d.doc_id,
       |  CASE WHEN d.doc_id <> ek.keep_id THEN 'exact_dup'
       |       WHEN c.is_survivor = false THEN 'near_dup'
       |       ELSE 'kept' END AS verdict
       |FROM d
       |JOIN ek USING (digest)
       |LEFT JOIN clusters c ON c.doc_id = d.doc_id""".stripMargin

  // --- persisted cross-batch dedup index (the production lifecycle) -------

  /** The digest shared by [[dedupExact]]/[[dedupApply]] and the
    * persisted index pair below — one rule, so the index interoperates
    * with the in-corpus layer (null text gets the same sentinel
    * class). */
  private def docDigest: Column =
    coalesce(md5(col("text").cast("binary")), lit("(null-text)"))

  /** PERSISTED EXACT-DEDUP INDEX — the cross-batch lifecycle the
    * in-corpus queries can't express: a 100 TB pipeline dedupes each
    * NEW ingest batch against the digests of everything already
    * curated, not against itself. An [[IndexStore]] family like
    * [[Similarity.writeIvfIndex]]: the index is an immutable parquet
    * table rebuilt (or merged) by periodic batch jobs, and probes are
    * pure scans.
    * Layout: one row per distinct digest with its canonical keep_id,
    * partitioned by the digest's first hex nibble (16 directories) —
    * for small probe batches the probed-prefix isin prunes at the
    * directory level exactly like the IVF cell filter; for large
    * batches the win is the JOIN SHAPE instead (see [[probeDedupIndex]]).
    * The digest agg is one shuffle with map-side partial min. */
  def writeDedupIndex(spark: SparkSession, dir: String, outDir: String): Unit =
    writeDedupIndexFrom(Core.documents(spark, dir), outDir)

  /** Same build over an arbitrary documents frame — the periodic batch
    * job indexes whatever slice of the corpus is curated, not always a
    * whole testdata table (used by [[dedupIndexProbe]]). */
  def writeDedupIndexFrom(docs: DataFrame, outDir: String): Unit =
    // deliberately NOT spreadNarrowScan'd: md5 over ~600-char texts is
    // milliseconds of map work and the digest groupBy shuffle
    // dominates, so a fan-out only adds a shuffle
    IndexStore.write(digestLayout, docs.select(col("doc_id"), docDigest.as("digest"))
      .groupBy("digest").agg(min(col("doc_id")).as("keep_id"))
      .withColumn("prefix", substring(col("digest"), 1, 1)), outDir)

  /** The digest index layout: one (digest, keep_id) row per distinct
    * digest, partitioned by the digest's first hex nibble. The read
    * schema is explicit because a partitionBy write over an EMPTY
    * build slice creates no data file at all, and inference would then
    * throw where an empty index must mean "everything is new". A merge
    * keeps the min keeper per digest; a takedown excludes the rows
    * whose KEEPER is tombstoned. */
  private[ops] val digestLayout = IndexStore.Layout(Seq("digest", "keep_id", "prefix"),
    schema = Some("digest STRING, keep_id BIGINT, prefix STRING"),
    writer = _.write.partitionBy("prefix"),
    fold = _.groupBy(col("digest"), col("prefix"))
      .agg(min(col("keep_id")).as("keep_id"))
      .select(col("digest"), col("keep_id"), col("prefix")),
    tombstone = Some("doc_id" -> "keep_id"))

  /** MERGE persisted digest indexes — the INCREMENTAL rebuild step
    * that closes the index lifecycle (build → probe → merge): instead
    * of re-digesting the accumulated corpus daily, the periodic job
    * indexes only the newly-admitted slice and merges it with the
    * standing index. Sound because the index row is (digest,
    * min doc_id) and min is associative-commutative: merging
    * per-slice minima equals the minimum over the union — the merged
    * index is EXACTLY the index a full rebuild over the combined
    * corpora would produce (spec-asserted frame equality). Cost: one
    * shuffle over INDEX rows (distinct digests, with map-side partial
    * min) — never over the corpora behind them; at 100 TB that is the
    * difference between re-reading everything curated and touching
    * only digests. */
  def mergeDedupIndexes(spark: SparkSession, indexDirs: Seq[String],
      outDir: String): Unit =
    IndexStore.merge(spark, digestLayout, indexDirs, outDir, "mergeDedupIndexes")

  /** Same lifecycle step for the simhash near-dup index: signatures
    * are per-document and independent, so the merge is a union +
    * distinct (a document indexed in two slices collapses) re-laid
    * into the bandkey-range layout the probe's footer pruning relies
    * on. Shuffles index rows only (5 per doc), never documents. */
  def mergeSimhashIndexes(spark: SparkSession, indexDirs: Seq[String],
      outDir: String): Unit =
    IndexStore.merge(spark, simhashLayout, indexDirs, outDir, "mergeSimhashIndexes")

  /** Probe a NEW batch of documents against a persisted digest index:
    * one verdict per batch row —
    *   'dup_of_corpus' — digest already in the index (dup_of = the
    *                     index's canonical keep_id);
    *   'dup_in_batch'  — digest new to the corpus but not the minimal
    *                     doc_id holding it within THIS batch (dup_of =
    *                     that batch keeper);
    *   'new'           — first sight of the digest anywhere.
    * The batch side is assumed small against the index (the daily
    * ingest vs the accumulated corpus), so every join here broadcasts
    * batch-derived frames: the index is scanned ONCE, prefix-pruned by
    * the batch's probed nibbles (collected driver-side, <= 16 values —
    * the [[Similarity.probeIvfIndex]] literal-isin pattern), inner-joined
    * against the broadcast batch digest set to a match table that is
    * itself batch-sized, and the index never shuffles. At 100 TB that
    * is the difference between a bounded scan and re-sorting the
    * corpus per ingest.
    *
    * DELETE path ([[writeDedupIndexTombstones]]): index rows
    * whose KEEPER is tombstoned are dropped from the match scan, so a
    * re-ingest of taken-down content is admitted as 'new' — the
    * verdict a takedown wants (the content was removed; its digest
    * must stop vouching for it). EVENTUAL-CONSISTENCY CONTRACT: the
    * index stores only (digest, keeper), never the non-keeper members
    * of a digest group, so exclusion cannot RE-ELECT a surviving
    * member the way the cluster sidecar does ([[Components.appendClusters]]) —
    * a digest whose keeper is tombstoned vanishes from the index
    * entirely, even if unremoved duplicates of it remain in the
    * corpus, until the next rebuild over the live corpus re-derives
    * the next-min keeper. That is the standard registry posture (the
    * reference's URL registry has the same property: removing a
    * landed row forgets the URL was ever seen). Tombstoned ids that
    * were never keepers are inert. */
  def probeDedupIndex(spark: SparkSession, batch: DataFrame, indexDir: String,
      tombstoneTable: Option[DataFrame] = None,
      memo: Core.FsMemo = new Core.FsMemo): DataFrame = {
    // probe side NOT fanned out: per-micro-batch path
    val b = batch.select(col("doc_id"), docDigest.as("digest"))
    val batchKeep = b.groupBy("digest").agg(min(col("doc_id")).as("batch_keep_id"))
    // keeper-level exclusion BEFORE the digest join (see the DELETE
    // scaladoc above): an index row whose keep_id is taken down must
    // not vouch for any batch digest
    val live = IndexStore.liveView(spark, digestLayout, indexDir, tombstoneTable, memo) { idx =>
      val probedPrefixes = batchKeep
        .select(substring(col("digest"), 1, 1)).distinct().collect().map(_.getString(0))
      idx.filter(col("prefix").isin(probedPrefixes.toSeq: _*))
    }
    val matches = live
      .join(broadcast(batchKeep.select(col("digest"))), Seq("digest"))
      .select(col("digest"), col("keep_id"))
    b.join(broadcast(batchKeep), "digest")
      .join(broadcast(matches), Seq("digest"), "left")
      .select(col("doc_id"), col("digest"),
        when(col("keep_id").isNotNull, lit("dup_of_corpus"))
          .when(col("doc_id") =!= col("batch_keep_id"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("keep_id"),
          when(col("doc_id") =!= col("batch_keep_id"), col("batch_keep_id")))
          .as("dup_of"))
  }

  /** STREAMING cross-batch dedup: incoming document drops probed
    * against the persisted index inside foreachBatch, verdicts landed
    * idempotently per batch_id (the K1 sink rule — replay-safe). The
    * index stays immutable during the stream and is republished by the
    * periodic batch rebuild, the same batch-index/stream-probe split as
    * [[Similarity.streamingIvfProbe]] and for the same reason: mutating
    * the index in the hot path would serialize every micro-batch
    * through an index write, while a probe-only stream keeps per-batch
    * cost ~ batch size. Within-batch duplicate election happens inside
    * each micro-batch (the 'dup_in_batch' verdict), so replaying a
    * batch reproduces identical verdicts. */
  def streamingDedupProbe(spark: SparkSession, incoming: DataFrame,
      indexDir: String, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StreamingPipeline.probeStream(incoming, outDir, checkpoint) { (batch, _, memo) =>
      probeDedupIndex(spark, batch, indexDir, memo = memo)
    }

  /** REGISTERED end-to-end exercise of the persisted exact-dedup index
    * under the driver's oracle gate (VERDICT r7 #4) — the cross-run
    * registry probe the reference performs per scrape
    * (economic_indicators_spider.py:67-96: skip URLs already in the
    * landed set). Even doc_ids play the accumulated corpus, odd
    * doc_ids the new ingest: build the digest index from the even half
    * into a temp dir, [[probeDedupIndex]] the odd half against it. All
    * three verdicts occur on the driver corpus (cross-half duplicate
    * digests → 'dup_of_corpus', odd-only duplicate digests →
    * 'dup_in_batch', unique digests → 'new'). The DuckDB oracle is
    * the digest self-join over the same halves, putting the index
    * round-trip (partitioned write → prefix-pruned scan → broadcast
    * joins) under the hash gate. */
  def dedupIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
    val idxDir = IndexStore.evenHalf("dedup_index_probe", dir, docs)(writeDedupIndexFrom)
    probeDedupIndex(spark, docs.filter(col("doc_id") % 2 === 1), idxDir)
  }

  /** The probe oracle, parameterized by the corpus/batch split — the
    * [[dedupIndexProbe]] even/odd split and the
    * [[dedupIndexMergeProbe]] thirds/remainder split replay the
    * IDENTICAL digest self-join, so both persisted paths sit under
    * one checked shape. */
  private def dedupIndexProbeSqlFor(idxPred: String, batchPred: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, coalesce(md5(text), '(null-text)') AS digest FROM documents),
       |idx AS (
       |  SELECT digest, min(doc_id) AS keep_id FROM d WHERE $idxPred GROUP BY 1),
       |b AS (SELECT doc_id, digest FROM d WHERE $batchPred),
       |bk AS (SELECT digest, min(doc_id) AS batch_keep_id FROM b GROUP BY 1)
       |SELECT b.doc_id, b.digest,
       |  CASE WHEN i.keep_id IS NOT NULL THEN 'dup_of_corpus'
       |       WHEN b.doc_id <> bk.batch_keep_id THEN 'dup_in_batch'
       |       ELSE 'new' END AS verdict,
       |  coalesce(i.keep_id,
       |    CASE WHEN b.doc_id <> bk.batch_keep_id THEN bk.batch_keep_id END) AS dup_of
       |FROM b
       |JOIN bk USING (digest)
       |LEFT JOIN idx i USING (digest)""".stripMargin

  val dedupIndexProbeSql: String =
    dedupIndexProbeSqlFor("doc_id % 2 = 0", "doc_id % 2 = 1")

  /** REGISTERED end-to-end exercise of the index MERGE lifecycle under
    * the driver's oracle gate: three slices of the corpus (doc_id % 4 =
    * 0/1/2 — the accumulated ingest days) are indexed SEPARATELY, merged with
    * [[mergeDedupIndexes]], and the remainder (doc_id % 4 = 3, the new
    * ingest) probed against the merged index. The DuckDB oracle is the
    * SAME digest self-join as [[dedupIndexProbeSql]] computed over a
    * single flat union of the three slices — so a hash match proves,
    * end to end through the parquet round-trip, that per-slice build +
    * merge equals the full rebuild (min over slice-minima = min over
    * the union). Reference analogue: the cross-RUN registry
    * accumulation in economic_indicators_spider.py:67-96 (each scrape
    * folds its new URLs into the standing registry). */
  def dedupIndexMergeProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
    val merged = IndexStore.mergedSlices("dedup_index_merged", dir, docs)(
      writeDedupIndexFrom)(mergeDedupIndexes(spark, _, _))
    probeDedupIndex(spark, docs.filter(col("doc_id") % 4 === 3), merged)
  }

  val dedupIndexMergeProbeSql: String =
    dedupIndexProbeSqlFor("doc_id % 4 < 3", "doc_id % 4 = 3")

  /** DELETE path for the persisted exact-dedup index, the digest twin
    * of [[writeSimhashIndexTombstones]] (see [[probeDedupIndex]]'s
    * DELETE scaladoc for the keeper-vanishes eventual-consistency
    * contract). Takes effect on the next [[probeDedupIndex]] with NO
    * index rewrite; [[compactDedupIndex]] is the hard-forget. */
  def writeDedupIndexTombstones(spark: SparkSession, docIds: DataFrame,
      indexDir: String): Unit =
    IndexStore.writeTombstones(digestLayout, docIds, indexDir)

  /** HARD-FORGET compaction for a tombstoned digest index: rewrite
    * the index minus rows whose KEEPER is tombstoned into a fresh
    * dir, preserving the prefix-partitioned layout the probe's
    * pruning relies on. The compacted index answers every probe
    * exactly like the tombstone-filtered original (spec-asserted);
    * re-electing a next-min keeper for a vanished digest requires the
    * rebuild/merge over the live corpus ([[writeDedupIndexFrom]] /
    * [[mergeDedupIndexes]]), which this fold deliberately is not —
    * it never reads documents, only index rows. No tombstone table
    * lands in the new dir. */
  def compactDedupIndex(spark: SparkSession, indexDir: String,
      newDir: String): Unit =
    IndexStore.compact(spark, digestLayout, indexDir, newDir, "compactDedupIndex")()

  /** REGISTERED exercise of the digest-index DELETE path under
    * the oracle gate. Fixture shape — SF-INVARIANT non-vacuity by
    * construction (the corpus holds NO cross-parity duplicate texts
    * at the parity SFs, so an even/odd split would make the takedown
    * unobservable): the standing index is the even-id half (SHARING
    * the `dedup_index_probe` ProbeTemp build; the tombstone list is
    * passed explicitly so the shared artifacts stay untouched), and
    * the probe batch is the WHOLE corpus with ids shifted far above
    * the id space — every even-derived batch doc re-ingests indexed
    * content ('dup_of_corpus'), every odd-derived one is 'new', and
    * tombstoning the `doc_id % 10 = 4` keepers flips ~a tenth of the
    * matches to 'new' at EVERY SF. What the gate pins: keeper-level
    * exclusion before the digest join, the keeper-vanishes contract,
    * and the dup_of backfill (a flipped row must carry NULL dup_of,
    * not the dead keeper), through the parquet round-trip. */
  def dedupIndexTombstoneProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
    val idxDir = IndexStore.evenHalf("dedup_index_probe", dir, docs)(writeDedupIndexFrom)
    probeDedupIndex(spark,
      docs.withColumn("doc_id", col("doc_id") + lit(10000000000L)), idxDir,
      tombstoneTable = Some(docs.filter(col("doc_id") % 10 === 4).select("doc_id")))
  }

  /** [[dedupIndexProbeSqlFor]]'s shape with the index filtered to
    * live keepers and the batch id-shifted over the full corpus. */
  val dedupIndexTombstoneProbeSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, coalesce(md5(text), '(null-text)') AS digest FROM documents),
       |idx AS (
       |  SELECT digest, min(doc_id) AS keep_id FROM d WHERE doc_id % 2 = 0 GROUP BY 1),
       |live AS (SELECT * FROM idx WHERE keep_id % 10 <> 4),
       |b AS (SELECT doc_id + 10000000000 AS doc_id, digest FROM d),
       |bk AS (SELECT digest, min(doc_id) AS batch_keep_id FROM b GROUP BY 1)
       |SELECT b.doc_id, b.digest,
       |  CASE WHEN i.keep_id IS NOT NULL THEN 'dup_of_corpus'
       |       WHEN b.doc_id <> bk.batch_keep_id THEN 'dup_in_batch'
       |       ELSE 'new' END AS verdict,
       |  coalesce(i.keep_id,
       |    CASE WHEN b.doc_id <> bk.batch_keep_id THEN bk.batch_keep_id END) AS dup_of
       |FROM b
       |JOIN bk USING (digest)
       |LEFT JOIN live i USING (digest)""".stripMargin

  /** FUZZY cross-split contamination — the near-dup complement of
    * [[splitContamination]]'s exact-shingle leak detection: a test
    * document that is a lightly-edited COPY of a training document
    * shares no rare shingles the exact check is guaranteed to catch,
    * but its simhash lands within hamming <= 4. Per TEST-split
    * document (the same content-hash split as [[datasetSplit]]): how
    * many TRAIN documents sit within hamming 4, and the closest
    * distance — one row per test doc CARRYING A SIGNATURE (>2 tokens;
    * shorter documents are outside simhash's domain and are the
    * exact-digest check's responsibility — [[probeDedupIndex]] catches
    * their verbatim copies), zero-neighbor rows included (they ARE
    * the decontamination verdict).
    *
    * Scale shape: the 5-block pigeonhole banding of [[simhashPairs]],
    * restricted test x train — candidates stream per band bucket
    * (linear), and the banding is EXACT at hamming <= 4 (>= one of 5
    * blocks must agree), so the output provably equals the brute-force
    * cross join the DuckDB oracle runs (and TextDedupSpec replays with
    * planted cross-split near-dups). QBench cold-JVM sf0.1:
    * [0.646, 0.321]s. */
  def splitContaminationFuzzy(spark: SparkSession, dir: String): DataFrame =
    splitContaminationFuzzyFrom(Core.documents(spark, dir))

  private[graft] def splitContaminationFuzzyFrom(docs: DataFrame): DataFrame = {
    // spreadNarrowScan: sketching lands in the cache at input width
    val s = withNgramArr(Core.spreadNarrowScan(docs))
      .filter(size(toks) > 2)
      .select(col("doc_id"), (charHash(col("text")) % lit(100L)).as("h"),
        simhash64Col(col("ngarr")).as("simhash64"))
      .cache() // two uses: band fan-out + the verdict left join
    val bands = s.select(col("doc_id"), col("h"), col("simhash64"), bandPosexplode)
      .toDF("doc_id", "h", "simhash64", "band", "bkey")
    val test = bands.filter(col("h") >= 92)
    val train = bands.filter(col("h") < 80)
    val cand = test.as("x").join(train.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("train_doc"),
        bit_count(col("x.simhash64").bitwiseXOR(col("y.simhash64"))).as("hamming"))
      .filter(col("hamming") <= 4)
      .distinct() // a pair can agree on several bands
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_train_neighbors"), min(col("hamming")).as("min_hamming"))
    s.filter(col("h") >= 92).select(col("doc_id"))
      .join(cand, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_train_neighbors"), lit(0L)).as("n_train_neighbors"),
        col("min_hamming"))
  }

  val splitContaminationFuzzySql: String =
    s"""WITH sig AS ($simhash64Sql),
       |s AS (
       |  SELECT sig.doc_id, sig.simhash64, d.h FROM sig JOIN (
       |    SELECT doc_id, ${charHashSql("text")} % 100 AS h FROM documents) d
       |  USING (doc_id)),
       |t AS (SELECT doc_id, simhash64 FROM s WHERE h >= 92),
       |tr AS (SELECT simhash64 FROM s WHERE h < 80),
       |c AS (
       |  SELECT t.doc_id, count(*) AS n,
       |    min(bit_count(xor(t.simhash64, tr.simhash64))) AS mh
       |  FROM t JOIN tr ON bit_count(xor(t.simhash64, tr.simhash64)) <= 4
       |  GROUP BY 1)
       |SELECT t.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_train_neighbors,
       |  CAST(c.mh AS INTEGER) AS min_hamming
       |FROM t LEFT JOIN c USING (doc_id)""".stripMargin

  /** Deterministic train/val/test split at scale: the reference's
    * TrainValTestSplit (sql_pytorch_dataloader.py:251-320, 0.80 /
    * 0.12 / 0.08) sliced a *chunk list* on the driver; the 100 TB
    * form assigns each document by content hash — stable across
    * reruns, cluster layouts, and corpus growth, and it's one
    * map-side expression + a 3-group aggregate (no driver state). */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = charHash(col("text")) % lit(100L)
    val split = when(h < 80, lit("train")).when(h < 92, lit("val")).otherwise(lit("test"))
    withToks(Core.documents(spark, dir))
      .select(split.as("split"), size(toks).as("n_tokens"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("total_tokens"))
  }

  val datasetSplitSql: String =
    s"""WITH d AS (
       |  SELECT CASE WHEN ${charHashSql("text")} % 100 < 80 THEN 'train'
       |              WHEN ${charHashSql("text")} % 100 < 92 THEN 'val'
       |              ELSE 'test' END AS split,
       |    CAST(len($toksSql) AS INTEGER) AS n_tokens
       |  FROM documents)
       |SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM d GROUP BY 1""".stripMargin

  /** Stratified sampling: rebalance the language mixture by
    * down-sampling every language toward the smallest one's count —
    * the mixture-reweighting step a multilingual pre-training pipeline
    * runs before tokenization (an 'en'-heavy crawl would otherwise set
    * the mixture by accident). The keep-gate is a content-hash
    * threshold (keep iff hash % 1e6 < target/n_lang * 1e6): fully
    * deterministic, so the sample is reproducible run-to-run and
    * membership is decidable per-row with no global state — the same
    * property [[datasetSplit]] relies on. Per-language kept counts are
    * hash-binomial around the target, not exact (exact-N sampling
    * needs a global rank per language; the gate is one map-side
    * comparison instead), and the output reports the achieved
    * fraction so the calibration is queryable.
    * Plan shape: one scan + a 5-row count aggregate broadcast back —
    * the gate itself never shuffles. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
      .select(col("doc_id"), col("lang"), (charHash(col("text")) % lit(1000000L)).as("h"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val target = counts.agg(min(col("n_lang")).as("n_target"))
    docs.join(broadcast(counts), "lang").crossJoin(broadcast(target))
      .withColumn("keep",
        col("h").cast("double") <
          col("n_target").cast("double") / col("n_lang").cast("double") * lit(1000000.0))
      .groupBy(col("lang"), col("n_lang"), col("n_target"))
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_lang"), col("n_target"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_lang").cast("double")).as("kept_fraction"))
  }

  val stratifiedSampleSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, lang, ${charHashSql("text")} % 1000000 AS h FROM documents),
       |counts AS (SELECT lang, count(*) AS n_lang FROM docs GROUP BY 1),
       |target AS (SELECT min(n_lang) AS n_target FROM counts)
       |SELECT lang, n_lang, n_target,
       |  CAST(sum(CASE WHEN CAST(h AS DOUBLE) <
       |    CAST(n_target AS DOUBLE) / CAST(n_lang AS DOUBLE) * 1000000.0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN CAST(h AS DOUBLE) <
       |    CAST(n_target AS DOUBLE) / CAST(n_lang AS DOUBLE) * 1000000.0
       |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(n_lang AS DOUBLE) AS kept_fraction
       |FROM docs JOIN counts USING (lang) CROSS JOIN target
       |GROUP BY lang, n_lang, n_target""".stripMargin

  /** The EXACT-N twin of [[stratifiedSample]]: every language keeps
    * exactly min-language-count documents, chosen as the lowest
    * content-hash ranks (deterministic, reproducible, same hash order
    * as the binomial gate). The price is the documented trade
    * [[stratifiedSample]] avoids: the rank needs a window PER
    * LANGUAGE, so each language's rows sort within one task group —
    * parallelism is bounded by language count (fine for tens of
    * languages, wrong for per-domain strata; the hash gate is the
    * unbounded-strata form, this is the exact-quota form — the same
    * pairing as source_caps' quota rank). Output: the kept rows with
    * their in-language rank, so |rows per lang| == n_target exactly
    * (spec-asserted). */
  def exactStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Core.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (charHash(col("text")) % lit(1000000L)).as("h"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val target = counts.agg(min(col("n_lang")).as("n_target"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("h"), col("doc_id"))
    docs.withColumn("samp_rank", row_number().over(w))
      .crossJoin(broadcast(target))
      .filter(col("samp_rank") <= col("n_target"))
      .select(col("doc_id"), col("lang"), col("samp_rank"))
  }

  val exactStratifiedSampleSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, lang, ${charHashSql("text")} % 1000000 AS h FROM documents),
       |target AS (SELECT min(cnt) AS n_target FROM (
       |  SELECT count(*) AS cnt FROM docs GROUP BY lang)),
       |ranked AS (
       |  SELECT doc_id, lang,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS samp_rank
       |  FROM docs)
       |SELECT doc_id, lang, CAST(samp_rank AS INTEGER) AS samp_rank
       |FROM ranked CROSS JOIN target WHERE samp_rank <= n_target""".stripMargin

  /** Decontamination: test-split documents sharing a shingle with the
    * train split — the standard pre-training hygiene check (an eval
    * document whose n-grams leak into the training set inflates the
    * benchmark). Shingles with doc-frequency > `dfCap` are excluded:
    * boilerplate shingles are not contamination evidence (they repeat
    * by template, not by copying), and the cap is ALSO what bounds the
    * join — per-shingle fanout is at most cap^2 pairs, so the
    * candidate stream is linear in corpus size where an uncapped
    * equi-join would go quadratic on hot shingles. Same split
    * assignment as [[datasetSplit]] (content hash — stable across
    * runs, so contamination findings are reproducible).
    * Output per contaminated test doc: distinct leaked shingles,
    * distinct train docs involved, and the leaked fraction of the
    * doc's shingle set. */
  private val contamDfCap = 10

  def splitContamination(spark: SparkSession, dir: String): DataFrame = {
    // spreadNarrowScan: the shingle explode feeding all three
    // consumers runs pre-exchange
    val dn = withNgramArr(Core.spreadNarrowScan(Core.documents(spark, dir)))
      .select(col("doc_id"), (charHash(col("text")) % lit(100L)).as("h"),
        size(dng).as("n_shingles"), explode(dng).as("ng"))
    // deliberately UNCACHED despite three consumers: QBench cold-JVM
    // at sf0.1 measured cache() at 3.58s first-run vs 1.81s uncached —
    // materializing the exploded shingle stream costs more than the
    // recompute it saves (exchange reuse already shares one side), and
    // a registered query runs once per job
    val rare = dn.groupBy("ng").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") <= contamDfCap)
    val dnRare = dn.join(rare.select("ng"), "ng")
    val test = dnRare.filter(col("h") >= 92)
      .select(col("doc_id"), col("n_shingles"), col("ng"))
    val train = dnRare.filter(col("h") < 80)
      .select(col("doc_id").as("train_doc"), col("ng"))
    test.join(train, "ng")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(countDistinct(col("ng")).as("n_leaked"),
        countDistinct(col("train_doc")).as("n_train_docs"))
      .select(col("doc_id"), col("n_shingles"), col("n_leaked"), col("n_train_docs"),
        (col("n_leaked").cast("double") / col("n_shingles").cast("double"))
          .as("leak_ratio"))
  }

  val splitContaminationSql: String =
    s"""WITH dn AS (
       |  SELECT doc_id, ${charHashSql("text")} % 100 AS h,
       |    len(list_distinct($ngramsSql)) AS n_shingles,
       |    unnest(list_distinct($ngramsSql)) AS ng
       |  FROM documents),
       |rare AS (SELECT ng FROM dn GROUP BY ng HAVING count(*) <= $contamDfCap),
       |test AS (SELECT doc_id, n_shingles, ng FROM dn JOIN rare USING (ng) WHERE h >= 92),
       |train AS (SELECT doc_id AS train_doc, ng FROM dn JOIN rare USING (ng) WHERE h < 80)
       |SELECT t.doc_id, CAST(t.n_shingles AS INTEGER) AS n_shingles,
       |  count(DISTINCT t.ng) AS n_leaked,
       |  count(DISTINCT tr.train_doc) AS n_train_docs,
       |  CAST(count(DISTINCT t.ng) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE) AS leak_ratio
       |FROM test t JOIN train tr USING (ng)
       |GROUP BY t.doc_id, t.n_shingles""".stripMargin

  /** The APPLY side of decontamination: [[splitContamination]] reports
    * which EVAL docs leak; the remediation a pipeline actually ships
    * removes from TRAIN every document sharing a rare shingle with any
    * test doc (eval sets are fixed reference points — you don't edit
    * the benchmark, you pull the leak out of training). One row per
    * train doc with its leaked-shingle count and verdict, so the
    * curation writer composes it as a filter (the same
    * verdict-column-not-destructive-drop shape as dedup_apply).
    * Same df-capped shingle join as the detector — the cap bounds
    * per-shingle fanout, keeping the candidate stream linear. */
  def decontaminateTrain(spark: SparkSession, dir: String): DataFrame = {
    val dn = withNgramArr(Core.documents(spark, dir))
      .select(col("doc_id"), (charHash(col("text")) % lit(100L)).as("h"),
        explode(dng).as("ng"))
    val rare = dn.groupBy("ng").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") <= contamDfCap)
    val dnRare = dn.join(rare.select("ng"), "ng")
    val testNg = dnRare.filter(col("h") >= 92).select("ng").distinct()
    val leaked = dnRare.filter(col("h") < 80)
      .join(testNg, "ng")
      .groupBy("doc_id").agg(countDistinct(col("ng")).as("n_leaked"))
    Core.documents(spark, dir)
      .select(col("doc_id"), (charHash(col("text")) % lit(100L)).as("h"))
      .filter(col("h") < 80)
      .join(leaked, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        (coalesce(col("n_leaked"), lit(0L)) === 0L).as("keep"))
  }

  val decontaminateTrainSql: String =
    s"""WITH dn AS (
       |  SELECT doc_id, ${charHashSql("text")} % 100 AS h,
       |    unnest(list_distinct($ngramsSql)) AS ng
       |  FROM documents),
       |rare AS (SELECT ng FROM dn GROUP BY ng HAVING count(*) <= $contamDfCap),
       |testng AS (SELECT DISTINCT ng FROM dn JOIN rare USING (ng) WHERE h >= 92),
       |leaked AS (
       |  SELECT doc_id, count(DISTINCT ng) AS n_leaked
       |  FROM dn JOIN testng USING (ng) WHERE h < 80 GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(l.n_leaked, 0) AS BIGINT) AS n_leaked,
       |  coalesce(l.n_leaked, 0) = 0 AS keep
       |FROM (SELECT doc_id FROM documents WHERE ${charHashSql("text")} % 100 < 80) d
       |LEFT JOIN leaked l USING (doc_id)""".stripMargin

  /** PII scrubbing — the redaction pass every published training
    * corpus runs (emails and IP addresses are the canonical always-on
    * classes; see e.g. the BigCode/StarCoder PII pipeline). Pure
    * map-side regexp_replace, no shuffle — the 100 TB form is a scan
    * that rewrites in place. Patterns deliberately stick to character
    * classes + bounded quantifiers + \\b, the regex subset with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB) — no
    * lookaround, no backreferences — so the oracle hash-checks the
    * redacted text byte-for-byte. Redaction counts come from
    * regexp_count on the SAME patterns applied to the SAME
    * intermediate each pass actually rewrites (n_ips counts on the
    * email-redacted text, since the replacement is sequential) — so
    * every counted match corresponds to a placeholder in text_clean;
    * an IPv4 embedded inside an email match (user@1.2.3.4.com) is
    * consumed by <EMAIL> and never counted (ADVICE r5). */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubFrom(Core.documents(spark, dir))

  private[graft] def piiScrubFrom(df: DataFrame): DataFrame = {
    val emailClean = regexp_replace(col("text"), emailRe, "<EMAIL>")
    df.select(col("doc_id"),
      regexp_replace(emailClean, ipv4Re, "<IP>").as("text_clean"),
      regexp_count(col("text"), lit(emailRe)).as("n_emails"),
      regexp_count(emailClean, lit(ipv4Re)).as("n_ips"))
  }

  val piiScrubSql: String = {
    // single-quoted SQL literals: backslashes pass through verbatim to
    // RE2 (DuckDB string literals are not escape-processed by default)
    val email = emailRe
    val ip = ipv4Re
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |    '$ip', '<IP>', 'g') AS text_clean,
       |  CAST(len(regexp_extract_all(text, '$email')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(
       |    regexp_replace(text, '$email', '<EMAIL>', 'g'), '$ip')) AS INTEGER) AS n_ips
       |FROM documents""".stripMargin
  }

  /** Boilerplate detection: the 20 highest-document-frequency shingles
    * (headers/footers/templates repeat verbatim across documents; their
    * shingles top this list). Per-doc dedup is map-side; the count is
    * one shuffle on the shingle; orderBy+limit plans as
    * TakeOrderedAndProject (per-partition top-20 heaps + a 20-row
    * driver merge — no global sort of the shingle table, unlike the
    * row_number-window form this replaced). rnk is derived AFTER the
    * limit, a window over 20 rows. */
  def boilerplateNgrams(spark: SparkSession, dir: String): DataFrame = {
    val top = withNgramArr(Core.documents(spark, dir))
      .select(explode(dng).as("ng"))
      .groupBy("ng").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("ng"))
      .limit(20)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("doc_freq").desc, col("ng"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("ng"), col("doc_freq"), col("rnk"))
  }

  val boilerplateNgramsSql: String =
    s"""WITH dn AS (
       |  SELECT DISTINCT doc_id, unnest($ngramsSql) AS ng FROM documents),
       |f AS (SELECT ng, count(*) AS doc_freq FROM dn GROUP BY 1),
       |r AS (SELECT ng, doc_freq,
       |  ROW_NUMBER() OVER (ORDER BY doc_freq DESC, ng) AS rnk FROM f)
       |SELECT ng, doc_freq, CAST(rnk AS INTEGER) AS rnk FROM r WHERE rnk <= 20""".stripMargin

  /** Vocabulary building: the top-30 tokens by TOTAL occurrence count
    * (token-level complement of [[boilerplateNgrams]]'s per-document
    * shingle frequency) — the first pass of tokenizer training and the
    * corpus-health histogram. One shuffle on the token with map-side
    * partial counts; the top-k plans as TakeOrderedAndProject. */
  private val defaultVocabK = 30 // shared by the Scala default and the oracle LIMIT

  def vocabTopK(spark: SparkSession, dir: String): DataFrame = {
    val k = defaultVocabK
    withToks(Core.documents(spark, dir))
      .select(explode(toks).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)
  }

  val vocabTopKSql: String =
    s"""SELECT token, count(*) AS n_occurrences
       |FROM (SELECT unnest($toksSql) AS token FROM documents)
       |GROUP BY token
       |ORDER BY n_occurrences DESC, token
       |LIMIT $defaultVocabK""".stripMargin

  /** PER-DOCUMENT ATTRIBUTES — the Dolma-style audit table a
    * production curation pipeline materializes alongside the corpus:
    * one row per document carrying EVERY gate's signal (quality score,
    * dedup verdict, in-source cap rank, temperature keep, split
    * assignment) plus the composed admission verdict, so "why is doc X
    * in/out of the training set" is one point lookup instead of a
    * five-query forensic session. Composes the existing oracle-exact
    * layers — [[textQuality]], [[dedupApply]],
    * [[graft.ops.Mixture.sourceCaps]], the
    * [[graft.ops.Mixture.temperatureSample]] gate arithmetic, and
    * [[datasetSplit]]'s hash split — so every column is individually
    * hash-exact and the conjunction is too.
    *
    * Plan shape: linear joins on doc_id (each side one corpus-scale
    * shuffle), the per-language counts broadcast back, the 1-row
    * n_min crossed (allowlisted). At 100 TB this is the attribute
    * sidecar written once per curation run and joined at will.
    * QBench cold-JVM sf0.1: [2.291, 1.990]s. */
  def docAttributes(spark: SparkSession, dir: String): DataFrame = {
    // hash ONCE, mod twice (r13): charHash scans the full text, so two
    // independent charHash(text) calls were two corpus-scale passes
    // over the char data for one value — the withColumn stage computes
    // the hash once and both bucket columns derive from it
    val base = withToks(Core.documents(spark, dir))
      .withColumn("ch", charHash(col("text")))
      .select(col("doc_id"), col("lang"), col("source"),
        size(toks).as("n_tokens"),
        (col("ch") % lit(100L)).as("h100"),
        (col("ch") % lit(1000000L)).as("h1m"))
    val q = textQuality(spark, dir).select(col("doc_id"), col("quality_score"))
    val verdicts = dedupApply(spark, dir)
    val caps = Mixture.sourceCaps(spark, dir)
      .select(col("doc_id"), col("src_rank"), col("kept").as("cap_kept"))
    val counts = base.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val minc = counts.agg(min(col("n_lang")).as("n_min"))
    val split = when(col("h100") < 80, lit("train"))
      .when(col("h100") < 92, lit("val")).otherwise(lit("test"))
    val tempKept = when(col("h1m").cast("double") <
      sqrt(col("n_min").cast("double") / col("n_lang").cast("double")) * lit(1000000.0),
      1).otherwise(0)
    base
      .join(q, "doc_id").join(verdicts, "doc_id").join(caps, "doc_id")
      .join(broadcast(counts), "lang").crossJoin(broadcast(minc))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("quality_score"), col("verdict").as("dedup_verdict"),
        col("src_rank"), col("cap_kept"), tempKept.as("temp_kept"),
        split.as("split"),
        when(col("quality_score") >= 0.55 && col("verdict") === "kept" &&
          col("cap_kept") === 1 && tempKept === 1, 1).otherwise(0).as("admitted"))
  }

  val docAttributesSql: String = {
    val tempGate = """CAST(h1m AS DOUBLE) <
      | sqrt(CAST(n_min AS DOUBLE) / CAST(n_lang AS DOUBLE)) * 1000000.0"""
      .stripMargin.replace("\n", "")
    s"""WITH q AS (SELECT doc_id, quality_score FROM ($textQualitySql)),
       |v AS (SELECT * FROM ($dedupApplySql)),
       |caps AS (SELECT doc_id, src_rank, kept FROM (${Mixture.sourceCapsSql})),
       |base AS (
       |  SELECT doc_id, lang, source, CAST(len($toksSql) AS INTEGER) AS n_tokens,
       |    ${charHashSql("text")} % 100 AS h100,
       |    ${charHashSql("text")} % 1000000 AS h1m
       |  FROM documents),
       |counts AS (SELECT lang, count(*) AS n_lang FROM base GROUP BY 1),
       |m AS (SELECT min(n_lang) AS n_min FROM counts)
       |SELECT b.doc_id, b.lang, b.source, b.n_tokens, q.quality_score,
       |  v.verdict AS dedup_verdict, caps.src_rank,
       |  caps.kept AS cap_kept,
       |  CAST(CASE WHEN $tempGate THEN 1 ELSE 0 END AS INTEGER) AS temp_kept,
       |  CASE WHEN h100 < 80 THEN 'train' WHEN h100 < 92 THEN 'val'
       |       ELSE 'test' END AS split,
       |  CAST(CASE WHEN q.quality_score >= 0.55 AND v.verdict = 'kept'
       |    AND caps.kept = 1 AND ($tempGate) THEN 1 ELSE 0 END AS INTEGER)
       |    AS admitted
       |FROM base b
       |JOIN q USING (doc_id) JOIN v USING (doc_id) JOIN caps USING (doc_id)
       |JOIN counts USING (lang) CROSS JOIN m""".stripMargin
  }

  /** Capstone: the end-to-end training-data curation pipeline as ONE
    * query — quality gate -> exact-dedup survivors -> per-language
    * corpus budget (docs, tokens, mean quality). The shape a 100 TB
    * curation job has: a scan-side filter, a broadcast semi-join
    * against the dedup survivors, and one aggregation. Mean quality
    * goes through an exact decimal sum so the group order can't
    * perturb the double. */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val q = textQuality(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val keep = dedupExact(spark, dir).select(col("keep_id").as("doc_id"))
    val base = withToks(Core.documents(spark, dir))
      .select(col("doc_id"), col("lang"), size(toks).as("n_tokens"))
    // keep/q are corpus-sized — no broadcast hint (AQE broadcasts at
    // small SF; at 100 TB these must shuffle on doc_id)
    base
      .join(keep, Seq("doc_id"), "left_semi")
      .join(q, "doc_id")
      .filter(col("quality_score") >= 0.55)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        (sum(col("quality_score").cast("decimal(18,12)")).cast("double") /
          count(lit(1)).cast("double")).as("avg_quality"))
  }

  val corpusPipelineSql: String = {
    val nTok = s"CAST(len($toksSql) AS DOUBLE)"
    val uniq = s"(CAST(len(list_distinct($toksSql)) AS DOUBLE) / $nTok)"
    val stop = s"(CAST(len(list_filter($toksSql, t -> t = 'the' OR t = 'a')) AS DOUBLE) / $nTok)"
    val lenOk = "(CASE WHEN length(text) BETWEEN 100 AND 400 THEN 1.0 ELSE 0.0 END)"
    s"""WITH q AS (
       |  SELECT doc_id, lang, CAST(len($toksSql) AS INTEGER) AS n_tokens,
       |    0.5 * $uniq + 0.2 * (1.0 - $stop) + 0.3 * CAST($lenOk AS DOUBLE) AS quality_score
       |  FROM documents),
       |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM(CAST(quality_score AS DECIMAL(18,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_quality
       |FROM q SEMI JOIN keep USING (doc_id)
       |WHERE quality_score >= 0.55
       |GROUP BY lang""".stripMargin
  }

  override def queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "text_tokens" -> (textTokens _),
    "lang_id" -> (langId _),
    "text_quality" -> (textQuality _),
    "quality_prune" -> (qualityPrune _),
    "doc_fingerprint" -> (docFingerprint _),
    "dedup_exact" -> (dedupExact _),
    "ngram_jaccard_pairs" -> (ngramJaccardPairs _),
    "minhash_lsh_candidates" -> (minhashLshCandidates _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_clusters_append_probe" -> (dedupClustersAppendProbe _),
    "dedup_clusters_tombstone_probe" -> (dedupClustersTombstoneProbe _),
    "dedup_clusters_cumulative_probe" -> (dedupClustersCumulativeProbe _),
    "dedup_clusters_cumulative_tombstone_probe" -> (dedupClustersCumulativeTombstoneProbe _),
    "dedup_apply" -> (dedupApply _),
    "simhash" -> (simhash _),
    "simhash64" -> (simhash64 _),
    "simhash_pairs" -> (simhashPairs _),
    "dedup_index_probe" -> (dedupIndexProbe _),
    "dedup_index_merge_probe" -> (dedupIndexMergeProbe _),
    "simhash_index_merge_probe" -> (simhashIndexMergeProbe _),
    "dedup_index_tombstone_probe" -> (dedupIndexTombstoneProbe _),
    "simhash_index_tombstone_probe" -> (simhashIndexTombstoneProbe _),
    "simhash_index_probe" -> (simhashIndexProbe _),
    "dataset_split" -> (datasetSplit _),
    "stratified_sample" -> (stratifiedSample _),
    "exact_stratified_sample" -> (exactStratifiedSample _),
    "split_contamination" -> (splitContamination _),
    "split_contamination_fuzzy" -> (splitContaminationFuzzy _),
    "decontaminate_train" -> (decontaminateTrain _),
    "pii_scrub" -> (piiScrub _),
    "lang_confusion" -> (langConfusion _),
    "doc_keywords" -> (docKeywords _),
    "text_normalize" -> (textNormalize _),
    "dedup_exact_normalized" -> (dedupExactNormalized _),
    "boilerplate_ngrams" -> (boilerplateNgrams _),
    "vocab_topk" -> (vocabTopK _),
    "corpus_pipeline" -> (corpusPipeline _),
    "doc_attributes" -> (docAttributes _))

  override def oracle: Seq[(String, String)] = Seq(
    "text_tokens" -> textTokensSql,
    "lang_id" -> langIdSql,
    "text_quality" -> textQualitySql,
    "quality_prune" -> qualityPruneSql,
    "doc_fingerprint" -> docFingerprintSql,
    "dedup_exact" -> dedupExactSql,
    "ngram_jaccard_pairs" -> ngramJaccardPairsSql,
    "minhash_lsh_candidates" -> minhashLshCandidatesSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_clusters_append_probe" -> dedupClustersAppendProbeSql,
    "dedup_clusters_tombstone_probe" -> dedupClustersTombstoneProbeSql,
    "dedup_clusters_cumulative_probe" -> dedupClustersCumulativeProbeSql,
    "dedup_clusters_cumulative_tombstone_probe" -> dedupClustersCumulativeTombstoneProbeSql,
    "dedup_apply" -> dedupApplySql,
    "simhash" -> simhashSql,
    "simhash64" -> simhash64Sql,
    "simhash_pairs" -> simhashPairsSql,
    "dedup_index_probe" -> dedupIndexProbeSql,
    "dedup_index_merge_probe" -> dedupIndexMergeProbeSql,
    "simhash_index_merge_probe" -> simhashIndexMergeProbeSql,
    "dedup_index_tombstone_probe" -> dedupIndexTombstoneProbeSql,
    "simhash_index_tombstone_probe" -> simhashIndexTombstoneProbeSql,
    "simhash_index_probe" -> simhashIndexProbeSql,
    "dataset_split" -> datasetSplitSql,
    "stratified_sample" -> stratifiedSampleSql,
    "exact_stratified_sample" -> exactStratifiedSampleSql,
    "split_contamination" -> splitContaminationSql,
    "split_contamination_fuzzy" -> splitContaminationFuzzySql,
    "decontaminate_train" -> decontaminateTrainSql,
    "pii_scrub" -> piiScrubSql,
    "lang_confusion" -> langConfusionSql,
    "doc_keywords" -> docKeywordsSql,
    "text_normalize" -> textNormalizeSql,
    "dedup_exact_normalized" -> dedupExactNormalizedSql,
    "boilerplate_ngrams" -> boilerplateNgramsSql,
    "vocab_topk" -> vocabTopKSql,
    "corpus_pipeline" -> corpusPipelineSql,
    "doc_attributes" -> docAttributesSql)
}
