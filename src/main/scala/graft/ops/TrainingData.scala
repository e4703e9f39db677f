package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data shaping ops beyond the dedup/similarity family
  * (builder brief: "the operations a large-scale training-data
  * pipeline would need"): repetition-based quality signals (the
  * Gopher rules of Rae et al. 2021, §A1.1), span-level exact dedup
  * (the fixed-window analogue of substring dedup, Lee et al. 2022),
  * and greedy sequence packing (document concatenation into
  * fixed-length training sequences).
  *
  * All metrics are derived from exact integer intermediates (counts,
  * sizes) combined in identical IEEE-754 expression trees on both
  * engines, so the DuckDB oracle hash-matches bit-exactly.
  */
object TrainingData extends QueryModule {

  private val toksSql = "string_split(text, ' ')"

  /** Token array materialized once as a column (see TextDedup.withToks:
    * HOF lambdas get no CSE, so an inline split would re-split per
    * lambda element). */
  private def withToks(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
  private val toks = col("toks")

  // --- repetition metrics (Gopher rules) ---------------------------------

  /** Per-document repetition signals, all map-side (no shuffle — the
    * 100 TB form is a pure scan):
    *   - top_token_cnt/frac: occurrences of the modal token. Computed
    *     as the longest run in the SORTED token array — one
    *     O(n log n) sort + one linear fold, vs the O(n·distinct)
    *     count-per-distinct-token form the oracle uses (the oracle
    *     only runs at sf0.01; the engine side must survive
    *     100k-token documents).
    *   - dup_bigram_frac / dup_trigram_frac: 1 − distinct/total
    *     n-grams — the verbatim-loop signal.
    *   - gopher_ok: the composite keep gate (thresholds from Rae et
    *     al. 2021 table A1: top-token ≤ 0.2, dup-2gram ≤ 0.2,
    *     dup-3gram ≤ 0.18, plus a token-count range gate).
    */
  def repetitionMetrics(spark: SparkSession, dir: String): DataFrame = {
    val base = withToks(Core.documents(spark, dir))
      .withColumn("bg", graft.functions.token_ngrams(toks, 2))
      .withColumn("tg", graft.functions.token_ngrams(toks, 3))
    val n = size(toks)
    // longest run in the sorted array == modal count; init prev="" is
    // safe (a leading empty token yields run 1 either way)
    val topCnt = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    def dupFrac(arr: Column): Column =
      when(size(arr) > 0,
        lit(1.0) - size(array_distinct(arr)).cast("double") / size(arr).cast("double"))
        .otherwise(lit(0.0))
    base.select(
      col("doc_id"),
      n.as("n_tokens"),
      topCnt.as("top_token_cnt"),
      (topCnt.cast("double") / n.cast("double")).as("top_token_frac"),
      dupFrac(col("bg")).as("dup_bigram_frac"),
      dupFrac(col("tg")).as("dup_trigram_frac"))
      .withColumn("gopher_ok",
        when(col("top_token_frac") <= 0.2 && col("dup_bigram_frac") <= 0.2 &&
          col("dup_trigram_frac") <= 0.18 && col("n_tokens").between(8, 100000),
          lit(1)).otherwise(lit(0)))
  }

  val repetitionMetricsSql: String = {
    val bg = s"list_transform(range(1, len($toksSql)), i -> $toksSql[i] || ' ' || $toksSql[i+1])"
    val tg = s"list_transform(range(1, len($toksSql) - 1), i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2])"
    def dupFrac(arr: String) =
      s"(CASE WHEN len($arr) > 0 THEN CAST(1.0 AS DOUBLE) - CAST(len(list_distinct($arr)) AS DOUBLE) / CAST(len($arr) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)"
    // O(n·distinct) modal count — oracle-only; the engine uses the
    // sorted-run fold
    val topCnt = s"list_max(list_transform(list_distinct(toks), d -> len(list_filter(toks, t -> t = d))))"
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks, text FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS INTEGER) AS n_tokens,
       |  CAST($topCnt AS INTEGER) AS top_token_cnt,
       |  CAST($topCnt AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS top_token_frac,
       |  ${dupFrac(bg)} AS dup_bigram_frac,
       |  ${dupFrac(tg)} AS dup_trigram_frac,
       |  CAST(CASE WHEN CAST($topCnt AS DOUBLE) / CAST(len(toks) AS DOUBLE) <= 0.2
       |    AND ${dupFrac(bg)} <= 0.2 AND ${dupFrac(tg)} <= 0.18
       |    AND len(toks) BETWEEN 8 AND 100000 THEN 1 ELSE 0 END AS INTEGER) AS gopher_ok
       |FROM base""".stripMargin
  }

  // --- span-level exact dedup --------------------------------------------

  /** Non-overlapping W-token windows per document; a span is
    * "duplicated" when its content hash occurs more than once in the
    * corpus (any document, including re-occurrence within one). The
    * fixed-window form of exact substring dedup (Lee et al. 2022):
    * linear explode (n/W spans per doc), one shuffle on the span hash
    * for the occurrence count, one shuffle back on doc_id for the
    * per-doc summary — every step linear at 100 TB, unlike a
    * suffix-array build. Docs shorter than W tokens carry zero spans
    * (kept in the output with n_spans = 0 via the left join — the
    * short-doc data-loss trap). */
  private val spanW = 16

  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val base = withToks(Core.documents(spark, dir))
      .select(col("doc_id"), toks, size(toks).as("n"))
    val spans = base.filter(col("n") >= spanW)
      .select(col("doc_id"), toks,
        explode(sequence(lit(0), (col("n") / spanW).cast("int") - 1)).as("span_idx"))
      .select(col("doc_id"), col("span_idx"),
        graft.functions.poly_hash(
          concat_ws(" ", slice(toks, col("span_idx") * spanW + 1, lit(spanW)))).as("h"))
    val counts = spans.groupBy("h").agg(count(lit(1)).as("n_occ"))
    val perDoc = spans.join(counts, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
    base.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans").isNotNull,
          col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
          .otherwise(lit(0.0)).as("dup_span_frac"))
  }

  val dupSpansSql: String = {
    val spanHash = TextDedup.charHashSql("sp")
    s"""WITH base AS (SELECT doc_id, $toksSql AS t FROM documents),
       |idx AS (
       |  SELECT doc_id, t, unnest(range(0, len(t) // $spanW)) AS i FROM base),
       |sptxt AS (
       |  SELECT doc_id, i AS span_idx,
       |    array_to_string(t[(i*$spanW+1):(i*$spanW+$spanW)], ' ') AS sp FROM idx),
       |spans AS (SELECT doc_id, span_idx, $spanHash AS h FROM sptxt),
       |counts AS (SELECT h, count(*) AS n_occ FROM spans GROUP BY 1),
       |perdoc AS (
       |  SELECT doc_id, count(*) AS n_spans,
       |    sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS n_dup_spans
       |  FROM spans JOIN counts USING (h) GROUP BY 1)
       |SELECT b.doc_id,
       |  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       |  CASE WHEN p.n_spans IS NOT NULL
       |    THEN CAST(p.n_dup_spans AS DOUBLE) / CAST(p.n_spans AS DOUBLE)
       |    ELSE CAST(0.0 AS DOUBLE) END AS dup_span_frac
       |FROM base b LEFT JOIN perdoc p USING (doc_id)""".stripMargin
  }

  // --- sequence packing ----------------------------------------------------

  /** Greedy document packing into fixed-length training sequences
    * (GPT-style concatenation with boundary splitting): within a
    * shard, documents are laid end-to-end in doc_id order over a
    * token stream chopped into L-token sequences; each doc reports
    * the sequence it starts in, the sequence it ends in, and its
    * offset inside the starting sequence.
    *
    * The shard is the scale unit: the window is PARTITIONED (by
    * doc_id mod S), so no global sort exists and shard count scales
    * with the cluster — the 100 TB layout is thousands of shards,
    * each packed independently and written as one file group.
    * Integer `div`/`%` on the running BIGINT total (not double
    * division) — per-shard token counts can pass 2^53. */
  private[graft] val seqLen = 256
  private[graft] val nShards = 8

  def seqPacking(spark: SparkSession, dir: String): DataFrame =
    seqPackingFrom(Core.documents(spark, dir))

  /** Batch core over any (doc_id, text) frame — shared with the
    * StreamingSpec equality assertion against
    * [[graft.streaming.StreamingPipeline.streamingSeqPacking]]. */
  private[graft] def seqPackingFrom(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withToks(df)
      .select(col("doc_id"), (col("doc_id") % nShards).as("shard"),
        size(toks).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(
        col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"(cum_tokens - n_tokens) div $seqLen").as("seq_first"),
        expr(s"(cum_tokens - 1) div $seqLen").as("seq_last"),
        expr(s"(cum_tokens - n_tokens) % $seqLen").as("seq_offset"))
  }

  val seqPackingSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, doc_id % $nShards AS shard,
       |    CAST(len($toksSql) AS INTEGER) AS n_tokens
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM base)
       |SELECT doc_id, shard, n_tokens,
       |  (cum_tokens - n_tokens) // $seqLen AS seq_first,
       |  (cum_tokens - 1) // $seqLen AS seq_last,
       |  (cum_tokens - n_tokens) % $seqLen AS seq_offset
       |FROM cum""".stripMargin

  /** The MATERIALIZED packing (round-4 verdict #2): one row per
    * fixed-length training sequence, carrying what a dataloader
    * actually consumes — the total token_count (== seqLen except each
    * shard's tail) and the ordered doc-span layout
    * "doc_id:start:len,..." describing exactly which slice of which
    * document fills which positions (the
    * sql_pytorch_dataloader.py:230-245 analogue: the reference
    * materializes windowed tensors row-by-row in the loader; here the
    * layout is computed ONCE, distributed, and any loader mmaps it).
    *
    * Shape: each doc explodes into one row PER SEQUENCE IT TOUCHES —
    * total rows = ceil(shard tokens / seqLen) summed over shards, so
    * the fanout is tokens/seqLen, linear in corpus size. Executed-plan
    * audit at sf0.1: ONE exchange total — the groupBy(shard, seq_id)
    * keys are a superset of the window's shard hash-partitioning, so
    * the aggregation reuses it and only the cumulative-sum window
    * shuffles. The span list per sequence
    * is bounded by seqLen (worst case: seqLen one-token docs), so
    * collect_list cannot skew. Spans are sorted by in-sequence start
    * (docs tile a sequence disjointly, so starts are unique) and
    * serialized to a string both engines produce identically. */
  def packedSequences(spark: SparkSession, dir: String): DataFrame =
    packedSequencesFrom(Core.documents(spark, dir))

  private[graft] def packedSequencesFrom(df: DataFrame): DataFrame = {
    val L = seqLen
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = withToks(df)
      .select(col("doc_id"), (col("doc_id") % nShards).as("shard"),
        size(toks).as("n_tokens"))
      .withColumn("t1", sum(col("n_tokens")).over(w))
      .withColumn("t0", col("t1") - col("n_tokens"))
      // sequences this doc touches: seq_first .. seq_last (n >= 1
      // tokens always — split("") is [""] — so the range is non-empty)
      .withColumn("seq_id",
        explode(expr(s"sequence(t0 div $L, (t1 - 1) div $L)")))
      .withColumn("s_start", greatest(col("t0") - col("seq_id") * L, lit(0L)))
      .withColumn("s_len",
        least(col("t1"), (col("seq_id") + 1) * L) -
          greatest(col("t0"), col("seq_id") * L))
    spans.groupBy(col("shard"), col("seq_id"))
      .agg(
        sum(col("s_len")).as("token_count"),
        count(lit(1)).as("n_docs"),
        array_join(transform(
          sort_array(collect_list(struct(
            col("s_start"), col("doc_id"), col("s_len")))),
          x => concat_ws(":", x.getField("doc_id"),
            x.getField("s_start"), x.getField("s_len"))), ",").as("doc_spans"))
  }

  val packedSequencesSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, doc_id % $nShards AS shard,
       |    CAST(len($toksSql) AS BIGINT) AS n_tokens
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, shard,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS t1,
       |    n_tokens
       |  FROM base),
       |spans AS (
       |  SELECT shard, doc_id, t1 - n_tokens AS t0, t1,
       |    unnest(range((t1 - n_tokens) // $seqLen, ((t1 - 1) // $seqLen) + 1)) AS seq_id
       |  FROM cum)
       |SELECT shard, seq_id,
       |  CAST(SUM(LEAST(t1, (seq_id + 1) * $seqLen) - GREATEST(t0, seq_id * $seqLen)) AS BIGINT) AS token_count,
       |  COUNT(*) AS n_docs,
       |  STRING_AGG(doc_id || ':' || GREATEST(t0 - seq_id * $seqLen, 0) || ':' ||
       |      (LEAST(t1, (seq_id + 1) * $seqLen) - GREATEST(t0, seq_id * $seqLen)),
       |    ',' ORDER BY GREATEST(t0 - seq_id * $seqLen, 0)) AS doc_spans
       |FROM spans GROUP BY 1, 2""".stripMargin

  /** RAG-style overlapping chunking: fixed `ragLen`-token windows at
    * stride `ragStride` (16-token overlap carries boundary context),
    * each chunk materialized with its text — the retrieval-ingestion
    * layout (embed each chunk, index, retrieve) as opposed to the
    * training layouts ([[seqPacking]] packs, [[cdcChunks]] deduping
    * chunks move with content). Pure map-side explode: fanout is
    * ~n/stride per doc, linear in corpus tokens, no shuffle at all —
    * the downstream embed+index steps own theirs. The trailing chunk
    * is short rather than dropped (retrieval must be able to surface
    * every token), and every doc yields >= 1 chunk. */
  private val ragLen = 64
  private val ragStride = 48

  def ragChunks(spark: SparkSession, dir: String): DataFrame =
    withToks(Core.documents(spark, dir))
      .select(col("doc_id"), toks, size(toks).as("n"))
      .select(col("doc_id"), toks, col("n"),
        posexplode(expr(s"sequence(1, n, $ragStride)")).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"), col("start").as("first_tok"),
        least(lit(ragLen), col("n") - col("start") + 1).as("n_toks"),
        array_join(slice(toks, col("start"), lit(ragLen)), " ").as("chunk_text"))

  val ragChunksSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, $toksSql AS toks, len($toksSql) AS n FROM documents),
       |starts AS (
       |  SELECT doc_id, toks, n,
       |    unnest(range(1, n + 1, $ragStride)) AS start
       |  FROM base)
       |SELECT doc_id,
       |  CAST((start - 1) // $ragStride AS INTEGER) AS chunk_idx,
       |  CAST(start AS INTEGER) AS first_tok,
       |  CAST(LEAST($ragLen, n - start + 1) AS INTEGER) AS n_toks,
       |  array_to_string(toks[start : start + ${ragLen - 1}], ' ') AS chunk_text
       |FROM starts""".stripMargin

  // --- content-defined chunking dedup ------------------------------------

  /** Content-defined chunking: a token ENDS a chunk when its content
    * hash lands in 1/8 of the hash space (FastCDC-style gear
    * boundaries, token granularity — expected chunk ~8 tokens). Unlike
    * the fixed windows of [[dupSpans]], boundaries move WITH the
    * content, so an insertion near the start of a copied document
    * shifts only the chunk containing it — every later chunk still
    * collides with the original (asserted in the spec). Same linear
    * scale shape as dupSpans: map-side chunk build (one filter + one
    * transform over the token array), explode, count shuffle on the
    * chunk hash, per-doc summary. Every doc has >= 1 chunk (the head
    * chunk starts at token 1), so no doc drops from the summary. */
  private val cdcModulus = 8

  /** Per-chunk stream (doc_id, chunk_idx, h) — shared by the query and
    * the boundary-invariance spec. `df` needs doc_id + text. One
    * codegen'd pass (graft.functions.CdcChunkHashes) + posexplode.
    * QBench cold-JVM A/B at sf0.1 (reps): kernel 0.87/0.78/0.71s vs
    * HOF 1.22/0.94/0.74s — the kernel removes the per-token lambda
    * interpretation and its one-time codegen, while the steady state
    * is dominated by the downstream count join either way. */
  private[graft] def cdcChunkStream(df: DataFrame): DataFrame =
    withToks(df).select(col("doc_id"),
      posexplode(graft.functions.cdc_chunk_hashes(toks, cdcModulus))
        .as(Seq("chunk_idx", "h")))

  /** The HOF baseline the native kernel replaced: boundary positions
    * via filter(sequence) — an interpreted poly_hash per token — then
    * slot ranges via transform and a second poly_hash over each
    * chunk's concat_ws(slice). Kept as the boundary-invariance spec's
    * independent reference; the tail slot is empty exactly when the
    * last token is a boundary, hence the s <= e filter. */
  private[graft] def cdcChunkStreamHof(df: DataFrame): DataFrame = {
    val base = withToks(df).select(col("doc_id"), toks, size(toks).as("n"))
    // 1-based positions of boundary tokens; poly_hash is in [0, P) so
    // plain % matches DuckDB on the non-negative range
    val withB = base.withColumn("bpos",
      filter(sequence(lit(1), col("n")),
        p => graft.functions.poly_hash(element_at(toks, p)) % cdcModulus === 0))
    val nb = size(col("bpos"))
    val slots = transform(sequence(lit(0), nb), k => struct(
      k.as("idx"),
      when(k === 0, lit(1)).otherwise(element_at(col("bpos"), k) + 1).as("s"),
      when(k === nb, col("n")).otherwise(element_at(col("bpos"), k + 1)).as("e")))
    withB
      .select(col("doc_id"), toks, explode(slots).as("c"))
      .filter(col("c.s") <= col("c.e"))
      .select(col("doc_id"), col("c.idx").as("chunk_idx"),
        graft.functions.poly_hash(
          concat_ws(" ", slice(toks, col("c.s"), col("c.e") - col("c.s") + 1))).as("h"))
  }

  private def cdcSummary(chunks: DataFrame): DataFrame = {
    val counts = chunks.groupBy("h").agg(count(lit(1)).as("n_occ"))
    chunks.join(counts, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        (col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
          .as("dup_chunk_frac"))
  }

  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcSummary(cdcChunkStream(Core.documents(spark, dir)))

  val cdcChunksSql: String = {
    val tokHash = TextDedup.charHashSql("t[p]")
    val chunkHash = TextDedup.charHashSql("ctxt")
    s"""WITH base AS (
       |  SELECT doc_id, $toksSql AS t, len($toksSql) AS n FROM documents),
       |bp AS (
       |  SELECT doc_id, t, n,
       |    list_filter(range(1, n + 1), p -> ($tokHash) % $cdcModulus = 0) AS bpos
       |  FROM base),
       |slots AS (
       |  SELECT doc_id, t, n, bpos, unnest(range(0, len(bpos) + 1)) AS k FROM bp),
       |ranges AS (
       |  SELECT doc_id, t,
       |    CASE WHEN k = 0 THEN 1 ELSE bpos[k] + 1 END AS s,
       |    CASE WHEN k = len(bpos) THEN n ELSE bpos[k + 1] END AS e
       |  FROM slots),
       |chunks AS (
       |  SELECT doc_id, array_to_string(t[s:e], ' ') AS ctxt
       |  FROM ranges WHERE s <= e),
       |hashed AS (SELECT doc_id, $chunkHash AS h FROM chunks),
       |counts AS (SELECT h, count(*) AS n_occ FROM hashed GROUP BY 1)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_chunk_frac
       |FROM hashed JOIN counts USING (h)
       |GROUP BY doc_id""".stripMargin
  }

  // --- winnowing fingerprints ---------------------------------------------

  /** Winnowing (Schleimer/Wilkerson/Aiken 2003, the MOSS algorithm):
    * from each document's shingle-hash sequence, select the minimum
    * hash of every `winnowW` consecutive hashes, dedup the selections
    * — a position-independent fingerprint SAMPLE with the guarantee
    * that any shared token run of >= winnowW + 2 tokens (window + the
    * 3-gram tail) produces at least one shared fingerprint
    * (spec-asserted on a planted copy). The per-doc sample is ~2/(w+1)
    * of the shingles, so the cross-doc match join runs on a fraction
    * of [[dupSpans]]'s stream while still catching partial overlap
    * inside documents, which whole-chunk hashing misses when the
    * overlap straddles chunk boundaries.
    *
    * Min-by-VALUE (not the rightmost-min positional rule) keeps the
    * selection expressible as an order-free fold in both engines; ties
    * between equal hash values select identically by construction.
    * Scale shape: map-side selection (one lambda pass over the hash
    * array), explode of the sampled fingerprints, one count shuffle,
    * per-doc summary with a left join so fingerprint-less docs (< 3
    * tokens) survive. Per-doc fingerprints are deduped, so the plain
    * count per fingerprint IS its distinct-doc count minus nothing —
    * no countDistinct buffer needed. */
  private val winnowW = 4

  /** The selected-fingerprint stream (doc_id, f) — shared with the
    * planted-copy guarantee spec. `df` needs doc_id + text. */
  private[graft] def winnowSelect(df: DataFrame): DataFrame = {
    val base = withToks(df)
      .withColumn("hs", transform(
        graft.functions.token_ngrams(toks, 3),
        s => graft.functions.poly_hash(s)))
    val m = size(col("hs"))
    val sel = when(m >= winnowW,
        array_distinct(transform(sequence(lit(1), m - winnowW + 1),
          j => array_min(slice(col("hs"), j, lit(winnowW))))))
      .when(m >= 1, array(array_min(col("hs"))))
      .otherwise(array().cast("array<bigint>"))
    base.select(col("doc_id"), explode(sel).as("f"))
  }

  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val base = Core.documents(spark, dir)
    val fps = winnowSelect(base)
    val counts = fps.groupBy("f").agg(count(lit(1)).as("nd"))
    val perDoc = fps.join(counts, "f")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
    base.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fps"), lit(0L)).as("n_fingerprints"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared_fps"),
        when(col("n_fps").isNotNull,
          col("n_shared").cast("double") / col("n_fps").cast("double"))
          .otherwise(lit(0.0)).as("shared_frac"))
  }

  val winnowFingerprintsSql: String = {
    val ngramsSql =
      s"list_transform(range(1, len($toksSql) - 1), i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2])"
    val sHash = TextDedup.charHashSql("s")
    val w = winnowW
    s"""WITH base AS (
       |  SELECT doc_id, list_transform($ngramsSql, s -> ($sHash)) AS h FROM documents),
       |sel AS (
       |  SELECT doc_id,
       |    CASE WHEN len(h) >= $w THEN
       |      list_distinct(list_transform(range(1, len(h) - $w + 2), j -> list_min(h[j:j+${w - 1}])))
       |    WHEN len(h) >= 1 THEN [list_min(h)]
       |    ELSE CAST([] AS BIGINT[]) END AS fps
       |  FROM base),
       |fp AS (SELECT doc_id, unnest(fps) AS f FROM sel),
       |cnt AS (SELECT f, count(*) AS nd FROM fp GROUP BY 1),
       |perdoc AS (
       |  SELECT doc_id, count(*) AS n_fps,
       |    sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_shared
       |  FROM fp JOIN cnt USING (f) GROUP BY 1)
       |SELECT b.doc_id,
       |  CAST(coalesce(p.n_fps, 0) AS BIGINT) AS n_fingerprints,
       |  CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared_fps,
       |  CASE WHEN p.n_fps IS NOT NULL
       |    THEN CAST(p.n_shared AS DOUBLE) / CAST(p.n_fps AS DOUBLE)
       |    ELSE CAST(0.0 AS DOUBLE) END AS shared_frac
       |FROM base b LEFT JOIN perdoc p USING (doc_id)""".stripMargin
  }

  // --- tokenizer training: BPE pair counts --------------------------------

  /** The inner loop of byte-pair-encoding tokenizer training: count
    * adjacent symbol pairs across the corpus with multiplicity (the
    * highest count is the next merge). Starting from character
    * symbols, the pair stream is a map-side explode (token length − 1
    * pairs per token), one count shuffle on the pair, and a
    * TakeOrderedAndProject top-k — per-partition heaps, no global
    * sort, same shape as vocab_topk. Single-char tokens contribute no
    * pairs (filtered before the pair build, as the oracle's WHERE
    * does). The pairs come from the native char_ngrams kernel; it
    * replaced a per-position substr-concat lambda (cold-JVM A/B at
    * sf0.1, reps: kernel 0.64/0.54/0.47s vs lambda 1.39/0.99/0.90s —
    * the explode feeds straight from the codegen'd scan either way; the
    * win is the per-position lambda interpretation). */
  private val defaultBpeK = 20

  // k is NOT a parameter on the registered form (same oracle-drift
  // rule as ngramLm): the SQL bakes in defaultBpeK
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val tok = col("tok")
    withToks(Core.documents(spark, dir))
      .select(explode(toks).as("tok"))
      .filter(length(tok) >= 2)
      .select(explode(graft.functions.char_ngrams(tok, 2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(defaultBpeK)
  }

  val bpePairsSql: String =
    s"""SELECT pair, count(*) AS n_occurrences FROM (
       |  SELECT unnest(list_transform(range(1, length(tok)), i -> tok[i] || tok[i+1])) AS pair
       |  FROM (SELECT unnest($toksSql) AS tok FROM documents)
       |  WHERE length(tok) >= 2)
       |GROUP BY pair
       |ORDER BY n_occurrences DESC, pair
       |LIMIT $defaultBpeK""".stripMargin

  /** ITERATIVE BPE (round-4 verdict #3): K merge rounds, not just the
    * single pair count of [[bpePairs]]. Classic tokenizer training
    * (Sennrich et al. 2016): symbolize each word into characters,
    * repeat K times { count adjacent symbol pairs weighted by word
    * frequency; merge the top pair greedily left-to-right in every
    * word }. The registered query is the round-K vocabulary (symbol ->
    * total occurrences).
    *
    * Scale shape — why this survives 100 TB: the CORPUS is touched
    * exactly once (the word-frequency reduction, one linear count
    * shuffle); all K training rounds run on the vocabulary-sized word
    * table, the classic trick that makes BPE corpus-size-independent.
    * Per round: one pair-count shuffle over the word table, a top-1
    * pick, and a map-side fold applying the merge. The winning pair is
    * distributed as a ONE-ROW broadcast join (no driver collect; an
    * empty pair table — nothing left to merge — left-joins null and
    * the fold is the identity). Plans are cut per round with
    * localCheckpoint, the [[Components]] iterate-and-checkpoint
    * pattern, so round K's plan does not embed rounds 1..K-1.
    *
    * Greedy non-overlap falls out of the fold for free: a merged
    * symbol's spelling is a||b, which can never equal the left
    * component a (b is non-empty), so a freshly merged tail can't
    * re-merge with the next symbol in the same round —
    * [a,a,a,a] folds to [aa,aa], not [aa,aa,a]-style overlaps
    * (spec-asserted). The oracle replays the identical K merges as
    * chained CTEs (list_reduce with the same CASE fold), so engine
    * and oracle agree merge-for-merge or the hash fails. */
  private val bpeMergeRounds = 8

  def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    bpeVocabOver(bpeMergedWordsFor(spark, dir, bpeMergeRounds))

  private[graft] def bpeVocabFrom(df: DataFrame, rounds: Int): DataFrame =
    bpeVocabOver(bpeMergedWords(df, rounds))

  private def bpeVocabOver(merged: DataFrame): DataFrame =
    merged
      .select(explode(split(col("s"), " ")).as("sym"), col("freq"))
      .groupBy("sym").agg(sum(col("freq")).as("n_occurrences"))

  /** The trained merge table, memoized per (dir, rounds) as a parquet
    * artifact à la ProbeTemp (same contract: keys carry the source
    * dir's content fingerprint, so an in-place rewrite rebuilds the
    * table instead of serving a stale one). A tokenizer trains ONCE per
    * corpus and ships the merge table; every consumer — vocabulary,
    * encoder, id emitter, shard packer — loads the artifact instead of
    * re-running the K training rounds. That is both the real-system
    * shape (the merge table IS the tokenizer artifact) and the scale
    * shape: at 100 TB the training word-frequency reduction is the one
    * corpus-sized pass, so four consumers re-training would pay the
    * corpus scan 4x. The table is vocabulary-sized ((w, freq, s) —
    * string/long/string, exact types through the parquet round-trip,
    * spec-asserted equal to the direct path), so the artifact is tiny
    * relative to its corpus.
    *
    * Measured (QBench, sf0.1, reps in one JVM so the steady state
    * shows the reuse; identical row counts both sides):
    * `packed_token_ids` min 3.65s -> 1.37s, `bpe_vocab` min 2.07s ->
    * 0.21s; rep0 carries the one-time training build (~3.4-3.8s),
    * every later BPE query in the JVM skips it. */
  private def bpeMergedWordsFor(spark: SparkSession, dir: String,
      rounds: Int): DataFrame = {
    val d = ProbeTemp.dir(s"bpe_merged_words_r$rounds", dir) { d =>
      bpeMergedWords(Core.documents(spark, dir), rounds)
        .write.mode("overwrite").parquet(d)
    }
    spark.read.parquet(d)
  }

  /** The trained word table after `rounds` merges: (w, freq, s) with
    * `s` the space-joined symbol sequence — shared by the vocabulary
    * query and the encoder. */
  private def bpeMergedWords(df: DataFrame, rounds: Int): DataFrame = {
    val mergeFold = expr(
      """aggregate(split(s, ' '), '', (acc, x) ->
        |  CASE WHEN acc = '' THEN x
        |       WHEN (acc = a OR endswith(acc, concat(' ', a))) AND x = b
        |         THEN concat(substring(acc, 1, length(acc) - length(a)), a, b)
        |       ELSE concat(acc, ' ', x) END)""".stripMargin)
    // spreadNarrowScan: the corpus-sized word explode is the one
    // corpus pass of BPE training and runs pre-exchange
    var cur = withToks(Core.spreadNarrowScan(df))
      .select(explode(toks).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        concat_ws(" ", split(col("w"), "")).as("s"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      // winning pair COLLECTED to the driver (r17 optimization round):
      // it is one row by construction (limit 1), so the previous
      // one-row broadcast LEFT JOIN paid a broadcast-exchange
      // materialization job per round for what a single-row collect
      // does in one; the pair re-enters the fold as literal columns —
      // same CASE arms, same greedy merge, spec-pinned results. An
      // empty pair table (nothing left to merge) made the old fold the
      // identity via its NULL arms; here the round is skipped outright,
      // the same fixpoint.
      val top = cur
        .filter(size(split(col("s"), " ")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(split(s, ' ')) - 1), i -> " +
            "struct(element_at(split(s, ' '), i) AS a, " +
            "element_at(split(s, ' '), i + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect().headOption
      cur = top match {
        case Some(r) => cur
          .withColumn("a", lit(r.getString(0)))
          .withColumn("b", lit(r.getString(1)))
          .withColumn("s", mergeFold)
          .drop("a", "b")
          .localCheckpoint()
        case None => cur // fixpoint: nothing mergeable remains
      }
    }
    cur
  }

  /** BPE ENCODE — the apply side that completes the tokenizer
    * lifecycle (count pairs -> train merges -> encode the corpus):
    * per-document token counts under the round-K merge table, the
    * number a sequence-packing or cost-estimation pass would consume.
    * Scale shape: the encoder never re-touches documents with the
    * merge loop — words encode ONCE in the vocabulary-sized table and
    * documents join it on the word (linear explode + a hash join that
    * broadcasts at sf and shuffles at scale, both linear); compression
    * = chars saved per word times word frequency, all exact integers. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val enc = bpeMergedWordsFor(spark, dir, bpeMergeRounds)
      .select(col("w"), size(split(col("s"), " ")).as("n_syms"))
    // spreadNarrowScan: tokenize + explode + the broadcast encode join
    // all run pre-exchange (the first shuffle is the doc_id groupBy)
    withToks(Core.spreadNarrowScan(Core.documents(spark, dir)))
      .select(col("doc_id"), explode(toks).as("w"))
      .filter(length(col("w")) >= 1)
      .join(enc, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"),
        sum(length(col("w"))).as("n_chars_in_words"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        (col("n_bpe_tokens").cast("double") /
          col("n_chars_in_words").cast("double")).as("tokens_per_char"))
  }

  /** BPE TOKEN-ID SEQUENCES — the consumable end of the tokenizer
    * lifecycle (count pairs -> train merges -> encode -> EMIT IDS):
    * per-document sequences of dense vocabulary ids under the round-K
    * merge table, the tensor-shaped output a training job actually
    * loads (the reference materializes consumable per-row tensors in
    * its dataloader, sql_pytorch_dataloader.py:230-245; [[bpeEncode]]
    * stops at counts). Ids are assigned by frequency rank over the
    * trained vocabulary (occurrences desc, symbol asc, 0-based) — the
    * frequency-sorted id convention real tokenizers ship — so the
    * assignment is a deterministic pure function of the corpus and the
    * oracle replays it id-for-id.
    *
    * Scale shape: the K merge rounds never touch documents
    * ([[bpeMergedWords]] runs on the vocabulary-sized word table);
    * documents explode ONCE to (word, position) and join the
    * word->symbols table (broadcast at sf, hash-shuffle at corpus
    * scale — linear either way); symbol->id is a second vocab-sized
    * join; the only corpus-sized shuffle is the final groupBy(doc_id)
    * that assembles sequences. The id-rank window is global but runs
    * over the VOCABULARY aggregate — corpus-size-independent, the
    * boilerplate_ngrams class (allowlisted in PlanAuditSpec with that
    * justification). [[bpeTokenIdSeqs]] returns the typed array<int>
    * form; the registered query serializes it with array_join (the
    * packed_sequences convention — the driver compare sorts rows by
    * every column, and list cells don't order). */
  def bpeTokenIdSeqs(spark: SparkSession, dir: String): DataFrame =
    bpeTokenIdSeqsOver(
      bpeMergedWordsFor(spark, dir, bpeMergeRounds), Core.documents(spark, dir))

  private[graft] def bpeTokenIdSeqsFrom(df: DataFrame, rounds: Int): DataFrame =
    bpeTokenIdSeqsOver(bpeMergedWords(df, rounds), df)

  private def bpeTokenIdSeqsOver(merged: DataFrame, df: DataFrame): DataFrame = {
    // id assignment ranks the SAME vocabulary aggregate bpe_vocab
    // emits — shared through bpeVocabOver so the two can never diverge
    val vocabIds = bpeVocabOver(merged)
      .select(col("sym"), (row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_occurrences").desc, col("sym"))) - 1)
        .cast("int").as("tok_id"))
    val enc = merged.select(col("w"), split(col("s"), " ").as("syms"))
    // spreadNarrowScan: the double posexplode + two broadcast joins of
    // the id-emission chain run pre-exchange — a per-job profile
    // measured the whole encode as ONE task on the narrow bench scan
    val words = withToks(Core.spreadNarrowScan(df))
      .select(col("doc_id"), posexplode(toks))
      .toDF("doc_id", "wpos", "w")
      .filter(length(col("w")) >= 1)
    words.join(enc, "w")
      .select(col("doc_id"), col("wpos"), posexplode(col("syms")))
      .toDF("doc_id", "wpos", "spos", "sym")
      .join(vocabIds, "sym")
      .groupBy("doc_id")
      .agg(transform(
        sort_array(collect_list(struct(col("wpos"), col("spos"), col("tok_id")))),
        x => x.getField("tok_id")).as("token_ids"))
      .select(col("doc_id"), size(col("token_ids")).as("n_tokens"), col("token_ids"))
  }

  def bpeTokenIds(spark: SparkSession, dir: String): DataFrame =
    bpeTokenIdSeqs(spark, dir)
      .select(col("doc_id"), col("n_tokens"),
        array_join(col("token_ids").cast("array<string>"), ",").as("token_ids"))

  /** The shared w0..wK merge-replay CTE chain (see [[bpeVocabFrom]]). */
  private def bpeCtesSql: String = {
    val sp = "string_split(s, ' ')"
    val ctes = (1 to bpeMergeRounds).map { r =>
      s"""p$r AS (
         |  SELECT sp[i] AS a, sp[i + 1] AS b, SUM(freq) AS cnt FROM (
         |    SELECT freq, $sp AS sp, unnest(range(1, len($sp))) AS i
         |    FROM w${r - 1} WHERE len($sp) >= 2)
         |  GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
         |w$r AS (
         |  SELECT w, freq, CASE WHEN a IS NULL THEN s ELSE
         |    list_reduce($sp, (acc, x) ->
         |      CASE WHEN (acc = a OR ends_with(acc, ' ' || a)) AND x = b
         |           THEN substring(acc, 1, length(acc) - length(a)) || a || b
         |           ELSE acc || ' ' || x END) END AS s
         |  FROM w${r - 1} LEFT JOIN p$r ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT w, count(*) AS freq,
       |    array_to_string(string_split(w, ''), ' ') AS s
       |  FROM (SELECT unnest($toksSql) AS w FROM documents)
       |  WHERE length(w) >= 1 GROUP BY w),
       |$ctes""".stripMargin
  }

  val bpeVocabSql: String =
    s"""WITH $bpeCtesSql
       |SELECT sym, CAST(SUM(freq) AS BIGINT) AS n_occurrences
       |FROM (SELECT unnest(string_split(s, ' ')) AS sym, freq FROM w$bpeMergeRounds)
       |GROUP BY sym""".stripMargin

  val bpeEncodeSql: String =
    s"""WITH $bpeCtesSql,
       |enc AS (SELECT w, len(string_split(s, ' ')) AS n_syms FROM w$bpeMergeRounds),
       |dw AS (
       |  SELECT doc_id, unnest($toksSql) AS w FROM documents)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(n_syms) AS DOUBLE) / CAST(SUM(length(w)) AS DOUBLE) AS tokens_per_char
       |FROM dw JOIN enc USING (w)
       |WHERE length(w) >= 1
       |GROUP BY doc_id""".stripMargin

  /** PACKED TOKEN-ID SHARDS — [[packedSequences]] with the payload
    * materialized: one row per fixed-length training sequence carrying
    * the ACTUAL ordered id string, not just the doc-span coordinates.
    * This is the literal shard file a dataloader memory-maps: docs lay
    * end-to-end per shard in doc_id order (the [[seqPacking]] layout,
    * applied to BPE ids instead of whitespace tokens), chopped at
    * `seqLen` ids.
    *
    * Scale shape: the per-doc sequences come from
    * [[bpeTokenIdSeqsFrom]] (its one corpus shuffle); the cumulative
    * offset window partitions BY SHARD (no global sort, shard count
    * scales with the cluster); the per-token explode is the inherent
    * linear cost of materializing payloads (you cannot write shard
    * bytes without touching every token once); and the final
    * groupBy(shard, seq_id) keys are a SUPERSET of the window's shard
    * partitioning, so it reuses the exchange — the packed_sequences
    * plan shape with ids riding along. Per-sequence state is bounded
    * by seqLen ids, so collect cannot skew. */
  def packedTokenIds(spark: SparkSession, dir: String): DataFrame = {
    val L = seqLen
    val perDoc = bpeTokenIdSeqs(spark, dir)
      .select(col("doc_id"), (col("doc_id") % nShards).as("shard"),
        col("n_tokens").cast("long").as("n"), col("token_ids"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc
      .withColumn("t1", sum(col("n")).over(w))
      .withColumn("t0", col("t1") - col("n"))
      .select(col("shard"), col("t0"), posexplode(col("token_ids")))
      .toDF("shard", "t0", "p", "tok_id")
      .withColumn("gpos", col("t0") + col("p"))
      .withColumn("seq_id", expr(s"gpos div $L"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("token_count"),
        array_join(transform(
          sort_array(collect_list(struct(col("gpos"), col("tok_id")))),
          x => x.getField("tok_id").cast("string")), ",").as("token_ids"))
  }

  val packedTokenIdsSql: String =
    s"""WITH $bpeIdCtesSql,
       |tok AS (
       |  SELECT doc_id, tok_id,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wpos, spos) - 1 AS p
       |  FROM ds JOIN vid USING (sym)),
       |perdoc AS (
       |  SELECT doc_id, doc_id % $nShards AS shard, COUNT(*) AS n
       |  FROM tok GROUP BY 1, 2),
       |cum AS (
       |  SELECT doc_id, shard,
       |    CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS t1,
       |    n
       |  FROM perdoc),
       |g AS (
       |  SELECT c.shard, c.t1 - c.n + t.p AS gpos, t.tok_id
       |  FROM tok t JOIN cum c USING (doc_id))
       |SELECT shard, gpos // $seqLen AS seq_id,
       |  CAST(COUNT(*) AS BIGINT) AS token_count,
       |  STRING_AGG(CAST(tok_id AS VARCHAR), ',' ORDER BY gpos) AS token_ids
       |FROM g GROUP BY 1, 2""".stripMargin

  /** The shared id-assignment CTE chain (merge replay -> vocab ids ->
    * per-symbol rows `ds` + id table `vid`) — used by the per-doc
    * sequence oracle and the packed-shard oracle. */
  private def bpeIdCtesSql: String =
    s"""$bpeCtesSql,
       |vocab AS (
       |  SELECT sym, SUM(freq) AS n_occurrences
       |  FROM (SELECT unnest(string_split(s, ' ')) AS sym, freq FROM w$bpeMergeRounds)
       |  GROUP BY sym),
       |vid AS (
       |  SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, sym) - 1
       |    AS INTEGER) AS tok_id
       |  FROM vocab),
       |enc AS (SELECT w, string_split(s, ' ') AS syms FROM w$bpeMergeRounds),
       |dw AS (
       |  SELECT doc_id, t[i] AS w, i AS wpos
       |  FROM (SELECT doc_id, $toksSql AS t,
       |          unnest(range(1, len($toksSql) + 1)) AS i FROM documents)
       |  WHERE length(t[i]) >= 1),
       |ds AS (
       |  SELECT doc_id, wpos, syms[j] AS sym, j AS spos
       |  FROM (SELECT doc_id, wpos, syms,
       |          unnest(range(1, len(syms) + 1)) AS j
       |        FROM dw JOIN enc USING (w)))""".stripMargin

  val bpeTokenIdsSql: String =
    s"""WITH $bpeIdCtesSql
       |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
       |  string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY wpos, spos) AS token_ids
       |FROM ds JOIN vid USING (sym)
       |GROUP BY doc_id""".stripMargin

  // --- n-gram language-model estimation -----------------------------------

  /** The count stage of a distributed n-gram LM (the classic
    * large-scale text op — Brants et al. 2007 built stupid-backoff LMs
    * over trillions of tokens with exactly this shape): trigram counts,
    * their bigram-prefix counts, and the MLE conditional
    * p(w3 | w1 w2) = C3 / C2_prefix, reported for the top `lmK`
    * trigrams. Probabilities are single divisions of exact integer
    * counts, so the oracle hash-matches bit-exactly.
    *
    * Scale shape: two linear count shuffles (trigram key, bigram key)
    * join the REDUCED tables — distinct n-grams, not occurrences — on
    * the prefix. Executed-plan audit at sf0.1: the 931-row bigram side
    * broadcasts (BroadcastHashJoin, zero extra exchange on the 27k-row
    * trigram side); at corpus scale the (n-1)-gram table outgrows the
    * broadcast threshold and the same join hash-shuffles both reduced
    * tables on the prefix — linear either way, the Brants-et-al.
    * sharding. The top-k plans as TakeOrderedAndProject (per-partition
    * heaps); the full un-truncated join is what a backoff LM would
    * persist, sharded by prefix. The trigram's prefix is re-derived
    * from the trigram string (cut at the last space — tokens carry no
    * spaces), cheaper than a second explode. */
  private val lmK = 50

  // k is NOT a parameter: the oracle SQL bakes in lmK, so a runtime
  // override would silently diverge from the registered pair (ADVICE
  // r4); both sides read the same constant.
  def ngramLm(spark: SparkSession, dir: String): DataFrame = {
    val base = withToks(Core.documents(spark, dir))
    val tri = base.select(explode(graft.functions.token_ngrams(toks, 3)).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("c3"))
      // prefix = the trigram minus its last token (tokens carry no
      // spaces, so the cut at the last space is exact)
      .withColumn("prefix", expr("substring(tri, 1, length(tri) - length(element_at(split(tri, ' '), 3)) - 1)"))
    val bi = base.select(explode(graft.functions.token_ngrams(toks, 2)).as("prefix"))
      .groupBy("prefix").agg(count(lit(1)).as("c2"))
    tri.join(bi, "prefix")
      .select(col("tri").as("trigram"), col("c3"), col("c2").as("c2_prefix"),
        (col("c3").cast("double") / col("c2").cast("double")).as("p_mle"))
      .orderBy(col("c3").desc, col("trigram"))
      .limit(lmK)
  }

  val ngramLmSql: String = {
    val tg = s"list_transform(range(1, len($toksSql) - 1), i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2])"
    val bg = s"list_transform(range(1, len($toksSql)), i -> $toksSql[i] || ' ' || $toksSql[i+1])"
    s"""WITH tri AS (
       |  SELECT tri, count(*) AS c3,
       |    substring(tri, 1, length(tri) - length(string_split(tri, ' ')[3]) - 1) AS prefix
       |  FROM (SELECT unnest($tg) AS tri FROM documents) GROUP BY tri),
       |bi AS (
       |  SELECT prefix, count(*) AS c2
       |  FROM (SELECT unnest($bg) AS prefix FROM documents) GROUP BY prefix)
       |SELECT tri AS trigram, c3, c2 AS c2_prefix,
       |  CAST(c3 AS DOUBLE) / CAST(c2 AS DOUBLE) AS p_mle
       |FROM tri JOIN bi USING (prefix)
       |ORDER BY c3 DESC, trigram
       |LIMIT $lmK""".stripMargin
  }

  /** LM-based document quality scoring — the CCNet/Wenzek-et-al. 2020
    * filter pattern: score each document by how probable its text is
    * under a language model, then gate or bucket on the score (their
    * KenLM perplexity; here the corpus's own trigram MLE from
    * [[ngramLm]]'s tables — self-scoring, so every observed trigram
    * has c2 >= c3 > 0 and no smoothing is needed). Rare/incoherent
    * trigram sequences score low; boilerplate scores high — both ends
    * are the curation signal.
    *
    * Determinism over transcendentals: true perplexity needs log(),
    * and libm transcendentals are NOT bit-identical across engines —
    * so the score is the mean QUANTIZED probability: per trigram
    * qp = (c3 * 1e9) div c2 (exact integer arithmetic, order-
    * independent), per doc avg_p = sum(qp)/n/1e9 with one identical
    * double expression tree. Monotone in the mean MLE probability,
    * hash-exact by construction. (At extreme corpus scale c3 * 1e9
    * needs the decimal widening noted inline.)
    *
    * Scale shape: the trigram/bigram tables are DISTINCT-n-gram sized
    * (vocabulary-scale, not corpus-scale); the doc-trigram explode is
    * linear. Executed-plan audit at sf0.1: AQE broadcasts both reduced
    * tables (931-row bigram, 27k-row scored-trigram) against the 260k
    * doc-trigram stream — three shuffles total, all count aggregations.
    * At corpus scale the scored-trigram side outgrows the threshold and
    * the same join hash-shuffles on the trigram — the Brants sharding,
    * linear either way; the per-doc groupBy keys on doc_id. Docs
    * with < 3 tokens have no trigrams: reported with n_trigrams = 0
    * and a NULL score (explicitly unscoreable, never silently
    * dropped — the curateDrops lesson). */
  def lmDocScore(spark: SparkSession, dir: String): DataFrame = {
    val base = withToks(Core.documents(spark, dir))
    val docTri = base.select(col("doc_id"),
      explode(graft.functions.token_ngrams(toks, 3)).as("tri"))
    val tri = docTri.groupBy("tri").agg(count(lit(1)).as("c3"))
      .withColumn("prefix", expr(
        "substring(tri, 1, length(tri) - length(element_at(split(tri, ' '), 3)) - 1)"))
    val bi = base.select(explode(graft.functions.token_ngrams(toks, 2)).as("prefix"))
      .groupBy("prefix").agg(count(lit(1)).as("c2"))
    // qp fits a long while c3 < ~9e9; a trillion-token corpus casts
    // c3 to DECIMAL(38,0) here and floors the quotient
    val scored = tri.join(bi, "prefix")
      .select(col("tri"), expr("(c3 * 1000000000L) div c2").as("qp"))
    val perDoc = docTri.join(scored, "tri")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), sum(col("qp")).as("sq"))
    base.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        (col("sq").cast("double") / col("n_trigrams").cast("double") /
          lit(1.0e9)).as("avg_p"))
  }

  val lmDocScoreSql: String = {
    val tg = s"list_transform(range(1, len($toksSql) - 1), i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2])"
    val bg = s"list_transform(range(1, len($toksSql)), i -> $toksSql[i] || ' ' || $toksSql[i+1])"
    s"""WITH doctri AS (
       |  SELECT doc_id, unnest($tg) AS tri FROM documents),
       |tri AS (
       |  SELECT tri, count(*) AS c3,
       |    substring(tri, 1, length(tri) - length(string_split(tri, ' ')[3]) - 1) AS prefix
       |  FROM doctri GROUP BY tri),
       |bi AS (
       |  SELECT prefix, count(*) AS c2
       |  FROM (SELECT unnest($bg) AS prefix FROM documents) GROUP BY prefix),
       |scored AS (
       |  SELECT tri, (c3 * 1000000000) // c2 AS qp FROM tri JOIN bi USING (prefix)),
       |agg AS (
       |  SELECT doc_id, count(*) AS n, CAST(SUM(qp) AS BIGINT) AS sq
       |  FROM doctri JOIN scored USING (tri) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(n, 0) AS BIGINT) AS n_trigrams,
       |  CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 1.0e9 AS avg_p
       |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  override def queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "repetition_metrics" -> (repetitionMetrics _),
    "dup_spans" -> (dupSpans _),
    "seq_packing" -> (seqPacking _),
    "packed_sequences" -> (packedSequences _),
    "rag_chunks" -> (ragChunks _),
    "bpe_pairs" -> (bpePairs _),
    "bpe_vocab" -> (bpeVocab _),
    "bpe_encode" -> (bpeEncode _),
    "bpe_token_ids" -> (bpeTokenIds _),
    "packed_token_ids" -> (packedTokenIds _),
    "cdc_chunks" -> (cdcChunks _),
    "winnow_fingerprints" -> (winnowFingerprints _),
    "ngram_lm" -> (ngramLm _),
    "lm_doc_score" -> (lmDocScore _))

  override def oracle: Seq[(String, String)] = Seq(
    "repetition_metrics" -> repetitionMetricsSql,
    "dup_spans" -> dupSpansSql,
    "seq_packing" -> seqPackingSql,
    "packed_sequences" -> packedSequencesSql,
    "rag_chunks" -> ragChunksSql,
    "bpe_vocab" -> bpeVocabSql,
    "bpe_encode" -> bpeEncodeSql,
    "bpe_token_ids" -> bpeTokenIdsSql,
    "packed_token_ids" -> packedTokenIdsSql,
    "bpe_pairs" -> bpePairsSql,
    "cdc_chunks" -> cdcChunksSql,
    "winnow_fingerprints" -> winnowFingerprintsSql,
    "ngram_lm" -> ngramLmSql,
    "lm_doc_score" -> lmDocScoreSql)
}
