package graft

import org.apache.spark.sql.functions._
import graft.ops.{Components, TextDedup}

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("lsh candidates cover the high-jaccard pairs (recall of the scale path)") {
    val exact = TextDedup.ngramJaccardPairs(spark, sf0001)
      .filter($"jaccard" >= 0.8).select("doc_a", "doc_b")
    val cand = TextDedup.minhashLshCandidates(spark, sf0001)
    // every >=0.8 pair must be proposed by banding (8 perms, 4 bands of 2:
    // per-band hit prob s^2 = 0.64 -> miss prob (1-0.64)^4 ~ 1.7%; the
    // planted dups in this corpus are all found)
    val missed = exact.join(cand, Seq("doc_a", "doc_b"), "left_anti")
    assert(missed.isEmpty, "LSH banding missed a >=0.8 Jaccard pair")
  }

  test("jaccard is symmetric-free (a<b) and within (0,1]") {
    val p = TextDedup.ngramJaccardPairs(spark, sf0001).cache()
    assert(p.filter($"doc_a" >= $"doc_b").isEmpty)
    assert(p.filter($"jaccard" <= 0.0 || $"jaccard" > 1.0).isEmpty)
  }

  test("prefix-filtered jaccard join equals the registered inverted index") {
    // the prefix filter is a candidate PRUNE, not an approximation:
    // under the global shingle order, every J >= 0.5 pair shares a
    // prefix shingle, so the Zipf-corpus variant must match the
    // registered count-agg form exactly
    val pruned = TextDedup.ngramJaccardPairsPrefix(spark, sf0001)
      .select("doc_a", "doc_b", "n_shared", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    val full = TextDedup.ngramJaccardPairs(spark, sf0001)
      .select("doc_a", "doc_b", "n_shared", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(pruned == full,
      s"prefix filter must be exact: ${full.diff(pruned).size} missed, ${pruned.diff(full).size} extra")
    // the adaptive pick: this corpus profiles near-uniform, so the
    // registered query must take the count-agg branch...
    assert(!TextDedup.jaccardProfileSkewed(spark, sf0001),
      "driver corpus must profile near-uniform (count-agg branch)")
    // ...and the rare-first branch stays output-equal even here
    val rare = TextDedup.ngramJaccardPairsRareFirst(spark, sf0001)
      .select("doc_a", "doc_b", "n_shared", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(rare == full,
      s"rare-first must be exact on the uniform corpus: ${full.diff(rare).size} missed, ${rare.diff(full).size} extra")
  }

  test("zipfian corpus: rare-first prefix cuts candidates hard, both forms stay equal") {
    // The registered count-agg form won its QBench A/B on the NEAR-
    // UNIFORM synthetic corpus; the standing decision's regime rule
    // ("pick by corpus frequency profile") predicts the prefix prune
    // only pays off under a Zipfian tail — this fixture tests that
    // prediction with candidate COUNTS (robust), not wall time.
    // Deterministic Zipf-ish corpus: token rank log-uniform in [1, V]
    // (density ~ 1/rank), 300 docs x 40 tokens.
    val dir = java.nio.file.Files.createTempDirectory("graft_zipf").toString
    val V = 2000.0
    val rows = (0 until 300).map { i =>
      val words = (0 until 40).map { j =>
        val h = (((i * 40 + j).toLong * 2654435761L) % 100003L + 100003L) % 100003L
        val u = (h.toDouble + 0.5) / 100003.0
        s"w${math.ceil(math.pow(V, u)).toLong}"
      }
      (i.toLong, words.mkString(" "))
    }
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("zipf"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(dir + "/documents.parquet")
    // the probe classifies this fixture Zipfian: the registered query
    // takes the rare-first branch here (r6 verdict #6 — the regime
    // rule is now CODE, and this fixture exercises the skewed branch
    // while the sf0.001 test above exercises the uniform one)
    assert(TextDedup.jaccardProfileSkewed(spark, dir),
      "Zipf fixture must profile skewed (rare-first branch)")
    // exactness survives the skewed profile — all four forms agree:
    // registered (= rare-first via the probe), count-agg, lex-prefix
    val pruned = TextDedup.ngramJaccardPairsPrefix(spark, dir)
      .select("doc_a", "doc_b", "n_shared", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    val full = TextDedup.ngramJaccardPairsCountAgg(spark, dir)
      .select("doc_a", "doc_b", "n_shared", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    val registered = TextDedup.ngramJaccardPairs(spark, dir)
      .select("doc_a", "doc_b", "n_shared", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(pruned == full,
      s"prefix filter must stay exact on a Zipfian corpus: " +
        s"${full.diff(pruned).size} missed, ${pruned.diff(full).size} extra")
    assert(registered == full,
      s"the adaptive rare-first branch must stay exact: " +
        s"${full.diff(registered).size} missed, ${registered.diff(full).size} extra")
    // candidate-volume measurement (mirrors the ops' shingle build)
    val d = spark.read.parquet(dir + "/documents.parquet")
      .select($"doc_id", array_sort(array_distinct(
        graft.functions.token_ngrams(split($"text", " "), 3))).as("ngs"))
      .withColumn("n", size($"ngs")).cache()
    val all = d.select($"doc_id", $"n", explode($"ngs").as("ng"))
    def pairRows(idx: org.apache.spark.sql.DataFrame): Long =
      idx.as("a").join(idx.as("b"),
        $"a.ng" === $"b.ng" && $"a.doc_id" < $"b.doc_id" &&
          $"a.n" * 2 >= $"b.n" && $"b.n" * 2 >= $"a.n").count()
    val prefLen = ($"n" - ceil($"n" * lit(0.5)) + lit(1)).cast("int")
    val lexPrefix = d.select($"doc_id", $"n",
      explode(slice($"ngs", lit(1), prefLen)).as("ng"))
    val dfreq = all.groupBy("ng").agg(count(lit(1)).as("df"))
    val wRare = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy($"df".asc, $"ng")
    val rarePrefix = all.join(dfreq, "ng")
      .withColumn("rnk", row_number().over(wRare))
      .filter($"rnk" <= prefLen)
      .select($"doc_id", $"n", $"ng")
    val (nAll, nLex, nRare) = (pairRows(all), pairRows(lexPrefix), pairRows(rarePrefix))
    d.unpersist()
    // lexicographic prefixes cut candidates by luck of the alphabet;
    // rare-first prefixes exclude the Zipf head outright — the regime
    // where the prune becomes near-linear and the prefix form wins
    assert(nLex < nAll, s"lex prefix must prune: $nLex vs $nAll")
    assert(nRare * 5 < nAll,
      s"rare-first must cut the Zipf head hard: $nRare vs $nAll (lex: $nLex)")
    assert(nRare < nLex, s"rare-first must beat lexicographic: $nRare vs $nLex")
  }

  test("persisted dedup index: cross-batch verdicts, scan prunes to probed prefixes") {
    val idxDir = java.nio.file.Files.createTempDirectory("graft_dix").toString + "/idx"
    TextDedup.writeDedupIndex(spark, sf0001, idxDir)
    // batch: 3 docs whose text already lives in the corpus (re-ingested
    // under fresh ids), plus 3 genuinely new docs of which two are
    // byte-identical to each other (within-batch duplicate)
    val known = graft.ops.Core.documents(spark, sf0001)
      .orderBy("doc_id").limit(3)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
    val fresh = Seq(
      (200001L, "a genuinely new r7 document"),
      (200002L, "a duplicated new r7 document"),
      (200003L, "a duplicated new r7 document")).toDF("doc_id", "text")
    val v = TextDedup.probeDedupIndex(spark, known.unionByName(fresh), idxDir).cache()
    assert(v.count() == 6, "one verdict per batch row")
    // corpus re-ingests point at the index's canonical keeper
    val corpusDups = v.filter($"verdict" === "dup_of_corpus").cache()
    assert(corpusDups.count() == 3)
    assert(corpusDups.filter($"dup_of".isNull || $"dup_of" >= 100000L).isEmpty,
      "dup_of_corpus must reference the ORIGINAL corpus keep_id")
    // the within-batch pair: min doc_id wins, the other points at it
    val verdictOf = v.select($"doc_id", $"verdict", $"dup_of")
      .as[(Long, String, Option[Long])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(verdictOf(200001L) == (("new", None)))
    assert(verdictOf(200002L) == (("new", None)))
    assert(verdictOf(200003L) == (("dup_in_batch", Some(200002L))))
    // the probed-prefix isin must reach the index scan as a
    // PartitionFilter (anchored to that line, like the IVF probe test)
    val explained = TextDedup.probeDedupIndex(spark, fresh, idxDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pf = explained.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pf.exists(l => l.contains("prefix") && l.contains("IN")),
      s"probe must prune on the digest prefix, got:\n${pf.mkString("\n")}")
    v.unpersist(); corpusDups.unpersist()
  }

  test("persisted simhash index: probe equals all-pairs hamming, pushes bandkey literals") {
    val idxDir = java.nio.file.Files.createTempDirectory("graft_shix").toString + "/idx"
    TextDedup.writeSimhashIndex(spark, sf0001, idxDir)
    // batch: 3 corpus docs re-ingested verbatim (hamming 0 to their
    // originals — MUST be found) + 1 alien doc (expected matchless)
    val known = graft.ops.Core.documents(spark, sf0001)
      .orderBy("doc_id").limit(3)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
    val alien = Seq((200001L,
      "zq xv qj wk vx jz kq xw zv qx completely alien shingle stream"))
      .toDF("doc_id", "text")
    val batch = known.unionByName(alien)
    val got = TextDedup.probeSimhashIndex(spark, batch, idxDir)
      .as[(Long, Long, Int)].collect().toSet
    // exactness: the pigeonhole banding + verify must equal the direct
    // all-pairs hamming scan of batch sigs x corpus sigs
    val corpusSigs = TextDedup.simhash64(spark, sf0001)
      .as[(Long, Long)].collect()
    val batchSigs = TextDedup.simhashSigs(batch).as[(Long, Long)].collect()
    val expect = (for {
      (pid, ps) <- batchSigs
      (cid, cs) <- corpusSigs
      h = java.lang.Long.bitCount(ps ^ cs)
      if h <= 4
    } yield (pid, cid, h)).toSet
    assert(got == expect,
      s"probe/all-pairs divergence: ${expect.diff(got).size} missing, ${got.diff(expect).size} extra")
    // the verbatim re-ingests each find their original at hamming 0
    val zeroes = got.filter(_._3 == 0).map(m => (m._1, m._2))
    val knownIds = known.select("doc_id").as[Long].collect().toSet
    assert(knownIds.forall(k => zeroes.exists { case (p, c) => p == k && c == k - 100000L }),
      s"every re-ingested doc must match its original at hamming 0, got $zeroes")
    assert(!got.exists(_._1 == 200001L), "the alien doc must stay matchless")
    // the probed bandkey literals must push to the parquet scan
    val explained = TextDedup.probeSimhashIndex(spark, alien, idxDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pushed = explained.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(l => l.contains("bandkey") && l.contains("In")),
      s"probe must push bandkey literals, got:\n${pushed.mkString("\n")}")
  }

  test("split contamination: only test-split docs, leak bounded by shingle count") {
    val c = TextDedup.splitContamination(spark, sf0001).cache()
    assert(c.filter($"n_leaked" < 1 || $"n_leaked" > $"n_shingles").isEmpty)
    assert(c.filter($"leak_ratio" <= 0.0 || $"leak_ratio" > 1.0).isEmpty)
    // every flagged doc really is in the test split under the same
    // content-hash assignment datasetSplit uses
    val testIds = TextDedup.docFingerprint(spark, sf0001)
      .filter(pmod($"fingerprint", lit(100L)) >= 92).select($"doc_id")
    val notTest = c.join(testIds, Seq("doc_id"), "left_anti")
    assert(notTest.isEmpty, "contamination flagged a non-test-split doc")
  }

  test("decontaminate train: covers exactly the train split, leaks match the detector's evidence") {
    val d = TextDedup.decontaminateTrain(spark, sf0001).cache()
    // covers the whole train split, nothing else
    val trainIds = TextDedup.docFingerprint(spark, sf0001)
      .filter(pmod($"fingerprint", lit(100L)) < 80).select($"doc_id")
    assert(d.count() == trainIds.count())
    assert(d.join(trainIds, Seq("doc_id"), "left_anti").isEmpty,
      "verdicts exist only for train-split docs")
    // keep is exactly n_leaked == 0
    assert(d.filter(($"n_leaked" === 0L) =!= $"keep").isEmpty)
    // cross-check against the detector: if any test doc leaks, some
    // train doc must be flagged (the leak has two ends), and vice versa
    val testLeaks = TextDedup.splitContamination(spark, sf0001).count()
    val trainFlagged = d.filter(!$"keep").count()
    assert((testLeaks > 0) == (trainFlagged > 0),
      s"detector found $testLeaks leaking test docs but apply flagged $trainFlagged train docs")
    d.unpersist()
  }

  test("pii scrub: planted emails and IPs redacted, counts exact, clean text untouched") {
    val docs = Seq(
      (1L, "contact me at alice.smith+spam@example.co.uk for details"),
      (2L, "server at 192.168.1.254 and backup at 10.0.0.1 replied"),
      (3L, "mixed bob@corp.io pinged 8.8.8.8 twice: 8.8.8.8"),
      (4L, "no pii here, just 1.2 version numbers and an at sign @ alone"),
      (5L, "reach user@1.2.3.4.com today"))
      .toDF("doc_id", "text")
    val out = TextDedup.piiScrubFrom(docs)
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "contact me at <EMAIL> for details" && out(1L)._3 == 1)
    assert(out(2L)._2 == "server at <IP> and backup at <IP> replied" && out(2L)._4 == 2)
    assert(out(3L)._2 == "mixed <EMAIL> pinged <IP> twice: <IP>" &&
      out(3L)._3 == 1 && out(3L)._4 == 2)
    assert(out(4L)._2 == "no pii here, just 1.2 version numbers and an at sign @ alone"
      && out(4L)._3 == 0 && out(4L)._4 == 0,
      "clean text must pass through byte-identical (1.2 is not an IP, bare @ not an email)")
    // an IPv4 embedded in an email match is consumed by <EMAIL>: the
    // IP count runs on the email-redacted intermediate, so counts and
    // placeholders cannot drift (ADVICE r5)
    assert(out(5L)._2 == "reach <EMAIL> today" &&
      out(5L)._3 == 1 && out(5L)._4 == 0,
      "embedded IP inside an email span must not be counted")
    // corpus run: a zero-redaction row must carry its text unchanged —
    // joins the original to prove the rewrite is the identity off-match
    val corpus = TextDedup.piiScrub(spark, sf0001)
      .join(graft.ops.Core.documents(spark, sf0001).select("doc_id", "text"), "doc_id")
    assert(corpus.count() == graft.ops.Core.documents(spark, sf0001).count())
    assert(corpus.filter($"n_emails" === 0 && $"n_ips" === 0 &&
      $"text_clean" =!= $"text").isEmpty, "no-match rows must be untouched")
  }

  test("text normalize: NFC composes, controls strip, whitespace collapses, idempotent") {
    // doc 1 is DECOMPOSED (e + U+0301): NFC must compose to U+00E9.
    // Escapes keep this source file ASCII; Scala resolves \uXXXX in
    // the lexer, so these are real combining characters at runtime.
    val planted = Seq(
      (1L, "e\u0301clair CAFE\u0301"),
      (2L, "tabs\tand\nnewlines\r here"),
      (3L, "ctrl\u0001chars\u0002gone"),
      (4L, "  padded  "),
      (5L, "already clean"))
      .toDF("doc_id", "text")
    val out = TextDedup.textNormalizeFrom(planted)
      .as[(Long, String, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "\u00e9clair caf\u00e9" && out(1L)._3 == 1,
      s"NFC must compose e+U+0301 -> U+00E9, got '${out(1L)._2}'")
    assert(out(2L)._2 == "tabs and newlines here" && out(2L)._3 == 1)
    assert(out(3L)._2 == "ctrlcharsgone" && out(3L)._3 == 1)
    assert(out(4L)._2 == "padded" && out(4L)._3 == 1)
    assert(out(5L)._2 == "already clean" && out(5L)._3 == 0)
    // idempotence: normalizing the normalized text changes nothing
    val normed = TextDedup.textNormalizeFrom(planted)
      .select($"doc_id", $"text_norm".as("text"))
    assert(TextDedup.textNormalizeFrom(normed).filter($"changed" =!= 0).isEmpty,
      "normalization must be idempotent")
    // the synthetic corpus is already clean: changed = 0 everywhere
    assert(TextDedup.textNormalize(spark, sf0001).filter($"changed" =!= 0).isEmpty)
    // normalized dedup collapses variant classes raw dedup cannot: the
    // case/whitespace variants of one text share one normalized digest
    val forms = Seq(
      (1L, "Same  Doc"), (2L, "same doc"), (3L, "same\tDOC"), (4L, "other"))
      .toDF("doc_id", "text")
    val collapsed = TextDedup.textNormalizeFrom(forms)
      .groupBy($"text_norm").count().filter($"count" === 3)
    assert(collapsed.count() == 1, "three variants must share one normalized form")
  }

  test("exact stratified sample: every language keeps exactly the min-language count") {
    val s = TextDedup.exactStratifiedSample(spark, sf0001).cache()
    val counts = graft.ops.Core.documents(spark, sf0001)
      .groupBy($"lang").agg(count(lit(1)).as("n_lang"))
    val target = counts.agg(min($"n_lang")).as[Long].collect()(0)
    val perLang = s.groupBy($"lang").count()
    assert(perLang.filter($"count" =!= target).isEmpty,
      s"every language must keep exactly $target docs")
    assert(perLang.count() == counts.count(), "no language disappears")
    // ranks are 1..n_target contiguous per language
    assert(s.groupBy($"lang").agg(max($"samp_rank").as("m"), count(lit(1)).as("k"))
      .filter($"m" =!= $"k").isEmpty)
    // deterministic: a re-run selects the identical doc set
    val again = TextDedup.exactStratifiedSample(spark, sf0001)
    assert(s.select("doc_id").exceptAll(again.select("doc_id")).isEmpty)
    s.unpersist()
  }

  test("lang confusion: cells partition the corpus, preds match lang_id row-for-row") {
    val cm = TextDedup.langConfusion(spark, sf0001).cache()
    val total = cm.agg(sum($"n_docs")).as[Long].collect()(0)
    assert(total == graft.ops.Core.documents(spark, sf0001).count(),
      "confusion cells must partition the corpus")
    val fromRows = TextDedup.langId(spark, sf0001)
      .groupBy($"lang_declared", $"lang_pred").count()
    assert(cm.join(fromRows,
      Seq("lang_declared", "lang_pred"))
      .filter($"n_docs" =!= $"count").isEmpty)
    cm.unpersist()
  }

  test("doc keywords: top-3 per doc, ranked by quantized tf-idf, ties broken by token") {
    val kw = TextDedup.docKeywords(spark, sf0001).cache()
    // exactly <= 3 per doc, ranks 1..k contiguous
    val byDoc = kw.groupBy($"doc_id")
      .agg(count(lit(1)).as("k"), max($"kw_rank").as("maxr"), min($"kw_rank").as("minr"))
    assert(byDoc.filter($"k" > 3 || $"maxr" =!= $"k" || $"minr" =!= 1).isEmpty)
    // every doc with a non-empty token appears
    assert(byDoc.count() == graft.ops.Core.documents(spark, sf0001).count())
    // rank order follows (score desc, token asc) within each doc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"kw_rank")
    val mis = kw.withColumn("prev_score", lag($"score", 1).over(w))
      .withColumn("prev_tok", lag($"keyword", 1).over(w))
      .filter($"prev_score".isNotNull &&
        ($"prev_score" < $"score" ||
          ($"prev_score" === $"score" && $"prev_tok" >= $"keyword")))
    assert(mis.isEmpty, "ranking must be (score desc, token asc)")
    // a token appearing in every document scores the idf floor: its
    // quantized idf is exactly 1e6, so score == tf * 1e6
    val n = graft.ops.Core.documents(spark, sf0001).count()
    val ubiquitous = kw.filter($"doc_freq" === n)
    assert(ubiquitous.filter($"score" =!= $"tf" * 1000000L).isEmpty)
    kw.unpersist()
  }

  test("exact dedup partitions the corpus (sum of copies = row count)") {
    val d = TextDedup.dedupExact(spark, sf0001)
    val total = d.agg(sum("n_copies")).as[Long].collect()(0)
    assert(total == graft.ops.Core.documents(spark, sf0001).count())
  }

  test("fingerprint is stable and collision-sparse") {
    val fp = TextDedup.docFingerprint(spark, sf0001).cache()
    val n = fp.count()
    val distinct = fp.select("fingerprint").distinct().count()
    assert(distinct > n * 9 / 10) // mod 1000003 on ~500 docs: few collisions
  }

  test("simhash near-dup pairs align with high jaccard pairs") {
    // E[hamming] scales with bit width (~ n_bits * theta/pi), so the
    // 64-bit signature at hamming<=4 is a tighter relative cut than
    // 32-bit/4 was: measured on this corpus, >=0.985-Jaccard pairs all
    // land at hamming <= 4, while the >=0.95 band spreads to 10.
    // Assert exact coverage on the near-identical band and a recall
    // floor on the looser one — simhash is an approximation and the
    // test should say so, not hide it behind a lucky threshold.
    val sim = TextDedup.simhashPairs(spark, sf0001).cache()
    val jac = TextDedup.ngramJaccardPairs(spark, sf0001)
      .select("doc_a", "doc_b", "jaccard").cache()
    val missedTight = jac.filter($"jaccard" >= 0.985)
      .join(sim, Seq("doc_a", "doc_b"), "left_anti")
    assert(missedTight.isEmpty, "simhash missed a >=0.985 Jaccard pair")
    val loose = jac.filter($"jaccard" >= 0.95)
    val nLoose = loose.count()
    if (nLoose > 0) {
      val caught = loose.join(sim, Seq("doc_a", "doc_b"), "left_semi").count()
      val recall = caught.toDouble / nLoose.toDouble
      assert(recall >= 0.6, s"recall $recall ($caught/$nLoose) on >=0.95 Jaccard pairs")
    }
  }

  test("banded simhash pair search equals the all-pairs scan") {
    val banded = TextDedup.simhashPairs(spark, sf0001)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val allPairs = TextDedup.simhashPairsBroadcast(spark, sf0001)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(banded == allPairs,
      s"pigeonhole banding must be exact: ${allPairs.diff(banded).size} missed, ${banded.diff(allPairs).size} extra")
  }

  test("simhash64: exact duplicates collide, signatures use the full bit range") {
    val s64 = TextDedup.simhash64(spark, sf0001).cache()
    // exact dups (same text) must produce identical signatures
    val dupSigs = graft.ops.Core.documents(spark, sf0001)
      .groupBy(org.apache.spark.sql.functions.md5($"text".cast("binary")).as("digest"))
      .agg(org.apache.spark.sql.functions.min($"doc_id").as("a"),
        org.apache.spark.sql.functions.max($"doc_id").as("b"))
      .filter($"a" =!= $"b")
      .join(s64.select($"doc_id".as("a"), $"simhash64".as("sig_a")), "a")
      .join(s64.select($"doc_id".as("b"), $"simhash64".as("sig_b")), "b")
    assert(dupSigs.filter($"sig_a" =!= $"sig_b").isEmpty,
      "identical texts must hash to identical 64-bit signatures")
    // the high 32 bits must actually vary (the 32-bit form wasted them)
    val hi = s64.select(org.apache.spark.sql.functions
      .shiftrightunsigned($"simhash64", 32).as("hi"))
      .distinct().count()
    assert(hi > 1, "high 32 bits must be informative")
  }

  test("dedup clusters: valid components of the candidate graph, min-id survivors") {
    val pairs = TextDedup.minhashLshCandidates(spark, sf0001)
      .as[(Long, Long)].collect()
    val clusters = TextDedup.dedupClusters(spark, sf0001)
      .select("doc_id", "cluster_id", "cluster_size", "is_survivor")
      .as[(Long, Long, Long, Boolean)].collect()
    val label = clusters.map(c => c._1 -> c._2).toMap
    // every candidate edge is intra-cluster (labels propagated fully)
    assert(pairs.forall { case (a, b) => label(a) == label(b) },
      "an edge crossing two clusters means propagation stopped early")
    // cluster_id is the min doc_id of its members; survivor flag matches
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid not labeled by its min doc_id")
      assert(members.count(_._4) == 1 && members.find(_._4).get._1 == cid)
      assert(members.forall(_._3 == members.size), s"cluster_size wrong in $cid")
    }
    // exact duplicates (same text) must land in the same cluster when
    // both appear in the candidate graph
    val md5dups = graft.ops.Core.documents(spark, sf0001)
      .groupBy(org.apache.spark.sql.functions.md5($"text".cast("binary")))
      .agg(org.apache.spark.sql.functions.collect_list($"doc_id").as("ids"))
      .filter(org.apache.spark.sql.functions.size($"ids") > 1)
      .select("ids").as[Seq[Long]].collect()
    md5dups.foreach { ids =>
      val inGraph = ids.filter(label.contains)
      assert(inGraph.map(label).distinct.size <= 1,
        s"exact dups $ids split across clusters")
    }
  }

  test("incremental cluster append equals the full-corpus rebuild") {
    // r13 index-lifecycle extension: the standing (even-id) corpus's
    // band index + cluster sidecar absorb the odd-id batch through
    // batch-sized work only; the star-replacement argument says the
    // result must EQUAL re-clustering the full corpus from scratch —
    // including merges (a batch doc bridging two standing clusters)
    // and survivor re-election. Frame equality pins it end to end.
    val inc = TextDedup.dedupClustersAppendProbe(spark, sf0001)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val full = TextDedup.dedupClustersDirect(spark, sf0001)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(inc == full, s"incremental append diverged from the rebuild " +
      s"(${inc.size} vs ${full.size} rows)")
    assert(inc.nonEmpty, "fixture corpus must produce clusters")
    // the batch genuinely participates: some cluster must contain an
    // odd (batch) doc, else the probe edges were never exercised
    assert(inc.exists(_._1 % 2 == 1), "no batch doc clustered — probe untested")
    // and some standing-corpus structure survives: an even-even pair
    // sharing a cluster proves the star edges were load-bearing
    val byCluster = inc.groupBy(_._2)
    assert(byCluster.values.exists(m => m.count(_._1 % 2 == 0) >= 2),
      "no even-even cluster — star edges untested")
  }

  test("size-gated key pushdown: semi-join fallback equals the literal path") {
    // r14 (VERDICT r13 #1): above the key-count gate the probes must
    // switch from driver-collected isin literals to a broadcast
    // left-semi join. maxKeyLiterals = 0 forces every key over the
    // gate, so this asserts the fallback path end to end on both
    // probe surfaces; the default-gate run alongside is the literal
    // path, and the two must be frame-equal.
    val docs = graft.ops.Core.documents(spark, sf0001)
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    // cluster append probe
    val root = java.nio.file.Files.createTempDirectory("graft_gate").toString
    TextDedup.writeClusterAppendArtifacts(spark, even, root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val literal = rows(Components.appendClusters(spark, TextDedup.clusterTerms, odd, root))
    val semi = rows(Components.appendClusters(spark, TextDedup.clusterTerms, odd, root,
      maxKeyLiterals = 0))
    assert(semi == literal,
      s"semi-join fallback diverged from the literal path (${semi.size} vs ${literal.size} rows)")
    assert(literal.nonEmpty, "gate fixture produced no clusters — vacuous")
    // simhash index probe
    val idxDir = java.nio.file.Files.createTempDirectory("graft_gate_sh").toString
    TextDedup.writeSimhashIndexFrom(even, idxDir)
    def prows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect().sorted.toSeq
    val pLit = prows(TextDedup.probeSimhashIndex(spark, odd, idxDir))
    val pSemi = prows(TextDedup.probeSimhashIndex(spark, odd, idxDir, maxKeyLiterals = 0))
    assert(pSemi == pLit,
      s"simhash probe fallback diverged (${pSemi.size} vs ${pLit.size} rows)")
    assert(pLit.nonEmpty, "simhash gate fixture produced no matches — vacuous")
  }

  test("band-signature barrier caches are scoped to their build thunks") {
    // r14 (VERDICT r13 #6 / ADVICE r13): the sketch caches are pushdown
    // barriers that must live while their consumer evaluates, but a
    // thunk that MATERIALIZES (the eager components loop, the artifact
    // write) must release them — streamingClusterAppend otherwise
    // registered one fresh cached sketch table per micro-batch for the
    // stream's lifetime. storageLevel on an identical uncached plan
    // reads CacheManager's canonical-form lookup.
    import org.apache.spark.storage.StorageLevel
    val docs = graft.ops.Core.documents(spark, sf0001)
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val root = java.nio.file.Files.createTempDirectory("graft_release").toString
    TextDedup.writeClusterAppendArtifacts(spark, even, root)
    assert(TextDedup.minhashSigPlan(even).storageLevel == StorageLevel.NONE,
      "standing-corpus sketch cache leaked past the artifact write")
    val out = Components.appendClusters(spark, TextDedup.clusterTerms, odd, root)
    assert(TextDedup.minhashSigPlan(odd).storageLevel == StorageLevel.NONE,
      "batch sketch cache leaked past the append probe")
    assert(out.count() > 0, "result frame must stay usable after release (checkpoint-rooted)")
    // the candidates builder's handle releases the shared barrier too.
    // Since r17 the registered candidates path sketches the SPREAD
    // scan (Core.spreadNarrowScan), so the cache-identity probe must
    // construct the same plan shape for CacheManager's canonical-form
    // lookup to hit — the assertion itself is unchanged.
    val (cand, release) = TextDedup.minhashLshCandidatesReleasable(spark, sf0001)
    cand.count()
    val sigPlan = TextDedup.minhashSigPlan(graft.ops.Core.spreadNarrowScan(docs))
    assert(sigPlan.storageLevel != StorageLevel.NONE,
      "barrier cache must be live while the candidate join evaluates")
    release()
    assert(sigPlan.storageLevel == StorageLevel.NONE,
      "candidates barrier cache leaked past its release handle")
  }

  test("cluster tombstones: excluded everywhere, hub re-elected, non-bridge delete equals rebuild") {
    // r14 (VERDICT r13 missing #5): the delete path. Synthetic corpus —
    // standing docs {2,4,6} are byte-identical (a clique cluster, so NO
    // member is a cut vertex and append-with-tombstones must EQUAL the
    // full rebuild over the live corpus), {8,10} unrelated singletons;
    // batch doc 7 repeats the clique text, 9 is unrelated. Tombstoning
    // the HUB (doc 2) exercises hub re-election on the sidecar replay.
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (2L, t1), (4L, t1), (6L, t1),
      (8L, "completely different words about databases and storage engines"),
      (10L, "yet another unrelated document mentioning streams and state"),
      (7L, t1),
      (9L, "nothing in common with anything else in this tiny corpus"))
    val standing = docs.filter(_._1 % 2 == 0).toDF("doc_id", "text")
    val batch = docs.filter(_._1 % 2 == 1).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_tomb").toString
    TextDedup.writeClusterAppendArtifacts(spark, standing, root)
    TextDedup.writeClusterTombstones(spark, Seq(2L).toDF("doc_id"), root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val appended = rows(Components.appendClusters(spark, TextDedup.clusterTerms, batch, root))
    // exclusion: the tombstoned doc appears in no output row, even
    // though batch doc 7 is byte-identical to its text (its index rows
    // must not match)
    assert(!appended.exists(_._1 == 2L), "tombstoned doc leaked into the cluster output")
    // hub re-election + rebuild equality: clique minus one member stays
    // connected, so the append must equal clustering the live corpus
    // ({4,6} ∪ batch) from scratch
    val rebuildRoot = java.nio.file.Files.createTempDirectory("graft_tomb_rb").toString
    TextDedup.writeClusterAppendArtifacts(spark,
      standing.filter($"doc_id" =!= 2L).union(batch), rebuildRoot)
    val rebuilt = rows(spark.read.parquet(s"$rebuildRoot/clusters"))
    assert(appended == rebuilt,
      s"non-bridge tombstone diverged from the rebuild ($appended vs $rebuilt)")
    // the re-elected cluster: {4,6,7} labeled by new hub 4
    assert(appended.exists(r => r._1 == 7L && r._2 == 4L),
      "batch doc must join the re-hubbed standing cluster")
    assert(appended.filter(_._2 == 4L).map(_._1).toSet == Set(4L, 6L, 7L),
      "re-elected cluster must hold exactly the live members")
  }

  test("cluster tombstones accumulate across takedown calls") {
    // r15 (ADVICE r14): writeClusterTombstones previously overwrote
    // the table, so a second takedown call silently RESURRECTED every
    // earlier-tombstoned doc. Two sequential calls must exclude BOTH
    // id sets — the table accumulates (append-mode files: no lazy
    // self-overwrite and no absent-table crash window, r15 review).
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val standing = Seq((2L, t1), (4L, t1), (6L, t1)).toDF("doc_id", "text")
    val batch = Seq((7L, t1)).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_tomb_acc").toString
    TextDedup.writeClusterAppendArtifacts(spark, standing, root)
    TextDedup.writeClusterTombstones(spark, Seq(2L).toDF("doc_id"), root)
    TextDedup.writeClusterTombstones(spark, Seq(4L).toDF("doc_id"), root)
    assert(spark.read.parquet(s"$root/tombstones")
        .as[Long].collect().toSet == Set(2L, 4L),
      "second takedown call must accumulate onto the first, not replace it")
    val appended = Components.appendClusters(spark, TextDedup.clusterTerms, batch, root)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(appended.map(_._1).toSet == Set(6L, 7L),
      s"both takedown calls' ids must stay excluded (got $appended)")
    assert(appended.forall(_._2 == 6L), "surviving member re-elected as hub")
  }

  test("a torn optional write reads as absent: no crash loop, no silent state") {
    // r15 review: a writer that dies MID-write leaves the optional
    // table's dir holding only _temporary — the dir EXISTS but cannot
    // be read, so a bare-existence gate turns one interrupted takedown
    // or state write into a crash on EVERY subsequent append/replay.
    // Core.tableExists must read the torn shape as absent: the retry
    // story stays "torn write == never started".
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val standing = Seq((2L, t1), (4L, t1)).toDF("doc_id", "text")
    val batch = Seq((7L, t1)).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_torn").toString
    TextDedup.writeClusterAppendArtifacts(spark, standing, root)
    // a takedown that died mid-write: _temporary only, nothing committed
    new java.io.File(
      s"$root/tombstones/_temporary/0/_temporary/attempt_0").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        s"$root/tombstones/_temporary/0/_temporary/attempt_0/part-00000"),
      Array[Byte](0))
    // must neither crash at plan time nor exclude anything
    val out = Components.appendClusters(spark, TextDedup.clusterTerms, batch, root)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(out.map(_._1).toSet == Set(2L, 4L, 7L),
      s"a torn takedown write must read as no-takedowns (got $out)")
    // the RETRIED takedown lands beside the stale _temporary (append
    // mode never touches it) and takes effect
    TextDedup.writeClusterTombstones(spark, Seq(2L).toDF("doc_id"), root)
    val after = Components.appendClusters(spark, TextDedup.clusterTerms, batch, root)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(after.map(_._1).toSet == Set(4L, 7L),
      "the committed retry must exclude beside the stale _temporary")
    // cumulative replay over a torn FIRST state write: batch 0 died
    // after creating stateDir/bands/_temporary; the replay must treat
    // state as absent and land equal to the single-shot form
    val state = java.nio.file.Files.createTempDirectory("graft_torn_state").toString
    new java.io.File(s"$state/bands/_temporary/0/_temporary").mkdirs()
    val cumul = Components.appendClusters(spark, TextDedup.clusterTerms, batch, root,
      Some(0L -> state))
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(cumul == after,
      "a torn first state write must replay like a clean first batch")
  }

  test("cumulative append with tombstones equals the single-shot delete semantics") {
    // r15: the lifecycle matrix's last cell. Tombstones only change
    // the STANDING terms (index filter + first-batch sidecar
    // re-election) — identically in the cumulative and single-shot
    // forms — so streaming the batches through the stateful form must
    // land frame-equal to the single-shot append over their union, with the
    // deleted doc excluded everywhere. The tombstone table is read
    // from the ROOT here (the default path), pinning the Hadoop-FS
    // read; batch 2 exercises the state-star replay and the filtered
    // standing cross together.
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val standing = Seq((2L, t1), (4L, t1), (6L, t1),
      (8L, "completely different words about databases and storage engines"))
      .toDF("doc_id", "text")
    val b1 = Seq((9L, "nothing in common with anything else in this tiny corpus"))
      .toDF("doc_id", "text")
    val b2 = Seq((7L, t1)).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_ctomb").toString
    val state = java.nio.file.Files.createTempDirectory("graft_ctomb_s").toString
    TextDedup.writeClusterAppendArtifacts(spark, standing, root)
    TextDedup.writeClusterTombstones(spark, Seq(2L).toDF("doc_id"), root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    Components.appendClusters(spark, TextDedup.clusterTerms, b1, root, Some(0L -> state))
    val cumulative = rows(
      Components.appendClusters(spark, TextDedup.clusterTerms, b2, root, Some(1L -> state)))
    val singleShot = rows(Components.appendClusters(spark, TextDedup.clusterTerms,
      b1.union(b2), root))
    assert(cumulative == singleShot,
      s"cumulative+tombstones diverged from the single-shot form " +
        s"($cumulative vs $singleShot)")
    assert(!cumulative.exists(_._1 == 2L), "tombstoned doc leaked")
    assert(cumulative.filter(_._2 == 4L).map(_._1).toSet == Set(4L, 6L, 7L),
      "late batch doc must join the re-hubbed standing cluster across batches")
  }

  test("registered cumulative tombstone probe equals the single-shot tombstone probe") {
    // the oracle claim restated in-process: the two registered probes
    // ingest the same corpus with the same takedown set, so their
    // outputs must be frame-equal (their shared DuckDB oracle is
    // literally the same SQL text)
    val dir = "/root/testdata/sf0.01"
    val a = TextDedup.dedupClustersCumulativeTombstoneProbe(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val b = TextDedup.dedupClustersTombstoneProbe(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(a == b, s"probes diverged (${a.size} vs ${b.size} rows)")
    assert(a.nonEmpty && !a.exists(_._1 % 10 == 4), "tombstones must stay excluded")
  }

  test("compaction refuses aliased directories fail-fast") {
    // r15 review: compaction's closing truncation deletes
    // stateDir/{bands,clusters} — with newRoot == stateDir that is the
    // just-written output, with stateDir == artifactsRoot it is the
    // standing sidecar itself. All three aliasings must refuse before
    // any IO.
    val r = "/tmp/graft_alias/root"; val s = "/tmp/graft_alias/state"
    def refuse(f: => Unit) = intercept[IllegalArgumentException](f)
    refuse(TextDedup.compactClusterState(spark, r, s, r))
    refuse(TextDedup.compactClusterState(spark, r, s, s))
    refuse(TextDedup.compactClusterState(spark, r, r, "/tmp/graft_alias/n"))
    // aliased SPELLINGS of the same dir must refuse too (r15 review:
    // raw string compares passed a trailing slash or scheme prefix
    // straight through to the truncation) — the guards compare
    // fully-qualified Hadoop paths now
    refuse(TextDedup.compactClusterState(spark, r, s, s + "/"))
    refuse(TextDedup.compactClusterState(spark, r, s, s"file:$s"))
    refuse(TextDedup.compactClusterState(spark, r, r + "//", "/tmp/graft_alias/n"))
  }

  test("append must not self-pair a re-ingested id (r15 review)") {
    // a batch doc whose id is already in the standing index (replay
    // across a root rebuild, an upsert) used to band-match ITSELF:
    // the (A, A) edge made an unmatched A a singleton cluster the
    // full rebuild would never emit. Standing corpus: two docs with
    // nothing in common (empty cluster sidecar); the batch re-ingests
    // one of them verbatim — the append must emit NOTHING.
    val standing = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely different words about databases and storage engines"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_selfpair").toString
    TextDedup.writeClusterAppendArtifacts(spark, standing, root)
    val out = Components.appendClusters(spark, TextDedup.clusterTerms,
      standing.filter($"doc_id" === 2L), root)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out.isEmpty,
      s"re-ingesting an unmatched standing doc must not fabricate a cluster: $out")
  }

  test("mid-stream takedown: quiesce-written tombstones take effect on the next batch") {
    // r15 review: the cumulative form replayed its prior output
    // UNFILTERED, so a takedown written under quiesce AFTER the
    // stream had produced output silently never happened. Now the
    // replayed star is excluded + live-hub-re-elected like every
    // other standing-like term: the tombstoned doc must vanish from
    // the next batch's output even though it sits in the replayed
    // prior output, and its cluster must re-hub to the minimum live
    // member.
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val standing = Seq((2L, t1), (4L, t1), (6L, t1),
      (8L, "completely different words about databases and storage engines"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_midtomb").toString
    val state = java.nio.file.Files.createTempDirectory("graft_midtomb_s").toString
    TextDedup.writeClusterAppendArtifacts(spark, standing, root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    // batch 0 streams BEFORE any takedown: doc 3 joins {2,4,6}, and
    // doc 2 enters the cumulative output (as the hub)
    val out0 = rows(Components.appendClusters(
      spark, TextDedup.clusterTerms, Seq((3L, t1)).toDF("doc_id", "text"), root, Some(0L -> state)))
    assert(out0.exists(r => r._1 == 2L && r._4), "precondition: 2 hubs batch 0's output")
    // quiesce, take down doc 2, resume
    TextDedup.writeClusterTombstones(spark, Seq(2L).toDF("doc_id"), root)
    val out1 = rows(Components.appendClusters(
      spark, TextDedup.clusterTerms, Seq((5L, t1)).toDF("doc_id", "text"), root, Some(1L -> state)))
    assert(!out1.exists(_._1 == 2L),
      s"tombstoned doc persisted through the prior-output replay: $out1")
    assert(out1.filter(_._2 == 3L).map(_._1).toSet == Set(3L, 4L, 5L, 6L),
      s"cluster must re-hub to the minimum live member (3): $out1")
  }

  test("registered tombstone probe: fixture non-vacuous, tombstones excluded") {
    // the oracle-gated dedup_clusters_tombstone_probe claims to
    // exercise member exclusion AND hub re-election — prove the
    // fixture's %10=4 slice actually hits standing clusters at the
    // driver's parity SF (measured r14: 1 member who IS a hub at
    // sf0.01, 43 members / 18 hubs at sf0.1); a predicate drift in
    // the testdata would otherwise leave the gate silently vacuous
    val dir = "/root/testdata/sf0.01"
    val docs = graft.ops.Core.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_tomb_nv").toString
    TextDedup.writeClusterAppendArtifacts(spark, docs.filter($"doc_id" % 2 === 0), root)
    val standing = spark.read.parquet(s"$root/clusters")
    val tomb = standing.filter($"doc_id" % 10 === 4).cache()
    assert(tomb.count() > 0,
      "no tombstoned doc sits in a standing cluster — exclusion gate vacuous")
    assert(tomb.filter($"doc_id" === $"cluster_id").count() > 0,
      "no tombstoned hub — re-election path unexercised by the gate")
    val out = TextDedup.dedupClustersTombstoneProbe(spark, dir)
    assert(out.filter($"doc_id" % 10 === 4).isEmpty,
      "tombstoned docs leaked into the registered probe's output")
    assert(out.count() > 0, "probe output empty")
    tomb.unpersist()
  }

  test("registered cumulative probe: fixture non-vacuous, equals the direct rebuild") {
    // r15 (VERDICT r14 #2): the oracle-gated
    // dedup_clusters_cumulative_probe claims every state path runs —
    // prove the % 6 sub-batch split actually separates same-cluster
    // odd docs at the driver's parity SF (so batch N genuinely merges
    // against batch <N state, not just standing + itself), then assert
    // the probe's output IS the full rebuild — the same equality the
    // DuckDB oracle pins through the parquet round-trip.
    val dir = "/root/testdata/sf0.01"
    val full = graft.ops.TextDedup.dedupClustersDirect(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val crossBatch = full.groupBy(_._2).values.exists { members =>
      members.filter(_._1 % 2 == 1).map(_._1 % 6).distinct.size >= 2
    }
    assert(crossBatch,
      "no cluster holds odd docs from two different % 6 sub-batches — " +
        "the cumulative gate would be vacuous (merge path never runs)")
    val got = graft.ops.TextDedup.dedupClustersCumulativeProbe(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(got == full,
      s"cumulative probe diverged from the rebuild (${got.size} vs ${full.size} rows)")
  }

  test("dedup clusters sidecar: memoized artifact equals the direct loop output") {
    // r13 train-once sidecar: dedupClusters serves a ProbeTemp parquet
    // artifact (three registered consumers share one loop evaluation);
    // the artifact must round-trip the direct loop's rows AND types
    // exactly — a schema drift here would silently poison dedup_apply
    // and doc_attributes, which join it
    val art = TextDedup.dedupClusters(spark, sf0001)
    val direct = TextDedup.dedupClustersDirect(spark, sf0001)
    // names + types, not nullability: the parquet round-trip relaxes
    // count()'s non-null flag to nullable (values unaffected, and the
    // driver's compare reads Verify's WRITTEN parquet, which has the
    // same relaxation on both paths)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => (f.name, f.dataType))
    assert(shape(art) == shape(direct),
      s"artifact schema drifted: ${art.schema} vs ${direct.schema}")
    val a = art.as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val d = direct.as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(a == d, "artifact rows must equal the direct loop output")
    assert(a.nonEmpty, "fixture corpus must produce clusters")
  }

  test("fuzzy split contamination equals brute force, planted cross-split copies surface") {
    // plant lightly-edited copies of corpus docs: each mutant flips the
    // LAST token, so its simhash sits a few bits from the original's;
    // split membership is content-hash-determined, so with 40 mutants
    // some deterministically land test-side with their original train-side
    val docs = graft.ops.Core.documents(spark, sf0001)
    val base = docs.orderBy("doc_id").limit(40)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars").as[(Long, String, String, String, Long)]
      .collect()
    val mutants = base.zipWithIndex.map { case ((id, text, lang, src, nc), i) =>
      val toks = text.split(" ")
      (id + 500000L, (toks.dropRight(1) :+ s"mut$i").mkString(" "), lang, src, nc)
    }
    val planted = docs.unionByName(
      mutants.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = TextDedup.splitContaminationFuzzyFrom(planted)
      .as[(Long, Long, Option[Int])].collect()
    // brute force over collected signatures + split hashes
    val sigs = TextDedup.simhashSigs(planted).as[(Long, Long)].collect().toMap
    val hs = planted
      .select($"doc_id", (graft.functions.poly_hash($"text") % 100L).as("h"))
      .as[(Long, Long)].collect().toMap
    val testIds = sigs.keys.filter(id => hs(id) >= 92).toSet
    val trainSigs = sigs.collect { case (id, s) if hs(id) < 80 => s }.toSeq
    val expect = testIds.map { id =>
      val hams = trainSigs.map(s => java.lang.Long.bitCount(sigs(id) ^ s)).filter(_ <= 4)
      (id, hams.size.toLong, if (hams.isEmpty) None else Some(hams.min))
    }
    assert(got.toSet == expect, "banded fuzzy contamination must equal brute force")
    // the plant worked: at least one test doc has a train near-neighbor
    assert(got.exists(_._2 > 0), "no cross-split near-dup surfaced — plant failed")
    // and zero-neighbor rows are present (they are the verdict too)
    assert(got.exists(_._2 == 0), "expected some clean test docs")
  }

  test("index merge equals full rebuild: dedup digests and simhash bands") {
    val docs = graft.ops.Core.documents(spark, sf0001)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString + "/idx"
    // dedup: index even and odd halves separately, merge, compare to
    // the one-shot full-corpus index — min(keep_id) is associative so
    // the frames must be identical
    val (dEven, dOdd, dMerged, dFull) =
      (tmp("graft_me"), tmp("graft_mo"), tmp("graft_mm"), tmp("graft_mf"))
    TextDedup.writeDedupIndexFrom(docs.filter($"doc_id" % 2 === 0), dEven)
    TextDedup.writeDedupIndexFrom(docs.filter($"doc_id" % 2 === 1), dOdd)
    TextDedup.mergeDedupIndexes(spark, Seq(dEven, dOdd), dMerged)
    TextDedup.writeDedupIndexFrom(docs, dFull)
    val merged = spark.read.parquet(dMerged)
      .select($"digest", $"keep_id", $"prefix".cast("string"))
    val full = spark.read.parquet(dFull)
      .select($"digest", $"keep_id", $"prefix".cast("string"))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty,
      "merged dedup index must equal the full rebuild")
    // simhash: signatures are per-doc independent — union distinct
    // equals the full build
    val (sEven, sOdd, sMerged, sFull) =
      (tmp("graft_se"), tmp("graft_so"), tmp("graft_sm"), tmp("graft_sf"))
    TextDedup.writeSimhashIndexFrom(docs.filter($"doc_id" % 2 === 0), sEven)
    TextDedup.writeSimhashIndexFrom(docs.filter($"doc_id" % 2 === 1), sOdd)
    TextDedup.mergeSimhashIndexes(spark, Seq(sEven, sOdd), sMerged)
    TextDedup.writeSimhashIndexFrom(docs, sFull)
    val sm = spark.read.parquet(sMerged)
    val sfu = spark.read.parquet(sFull)
    assert(sm.exceptAll(sfu).isEmpty && sfu.exceptAll(sm).isEmpty,
      "merged simhash index must equal the full rebuild")
    // and the merged index probes identically to the full one
    val probe = docs.limit(10)
    val viaMerged = TextDedup.probeSimhashIndex(spark, probe, sMerged)
    val viaFull = TextDedup.probeSimhashIndex(spark, probe, sFull)
    assert(viaMerged.exceptAll(viaFull).isEmpty && viaFull.exceptAll(viaMerged).isEmpty)
  }

  test("dataset split partitions the corpus near 80/12/8") {
    val s = TextDedup.datasetSplit(spark, sf0001).cache()
    val total = s.agg(sum("n_docs")).as[Long].collect()(0)
    assert(total == graft.ops.Core.documents(spark, sf0001).count())
    val train = s.filter($"split" === "train").select("n_docs").as[Long].collect()(0)
    val frac = train.toDouble / total.toDouble
    assert(frac > 0.65 && frac < 0.95, s"train fraction $frac far from 0.80")
  }

  test("boilerplate ngrams: top-20, ranked by document frequency") {
    val b = TextDedup.boilerplateNgrams(spark, sf0001).orderBy("rnk").cache()
    assert(b.count() == 20)
    val freqs = b.select("doc_freq").as[Long].collect()
    assert(freqs.zip(freqs.tail).forall { case (a, c) => a >= c }, "doc_freq must be non-increasing by rank")
  }

  test("text metrics: token counts positive, ratios bounded") {
    val t = TextDedup.textTokens(spark, sf0001)
    assert(t.filter($"n_tokens" <= 0).isEmpty)
    val q = TextDedup.textQuality(spark, sf0001)
    assert(q.filter($"unique_ratio" <= 0.0 || $"unique_ratio" > 1.0).isEmpty)
    assert(q.filter($"quality_score" < 0.0 || $"quality_score" > 1.0).isEmpty)
  }

  test("dedup apply: one verdict per doc, counts tie out to the layer queries") {
    val v = TextDedup.dedupApply(spark, sf0001).cache()
    val total = ops.Core.documents(spark, sf0001).count()
    assert(v.count() == total, "exactly one verdict per document")
    // exact_dup count = docs minus distinct digests
    val nDigests = ops.Core.documents(spark, sf0001)
      .select(md5($"text".cast("binary"))).distinct().count()
    val byVerdict = v.groupBy("verdict").count()
      .as[(String, Long)].collect().toMap
    assert(byVerdict.getOrElse("exact_dup", 0L) == total - nDigests)
    // near_dup = clustered non-survivors that survived the exact layer
    val exactDups = v.filter($"verdict" === "exact_dup").select("doc_id")
    val expectedNearDup = TextDedup.dedupClusters(spark, sf0001)
      .filter(!$"is_survivor").select("doc_id")
      .join(exactDups, Seq("doc_id"), "left_anti").count()
    assert(byVerdict.getOrElse("near_dup", 0L) == expectedNearDup)
    v.unpersist()
  }

  test("doc attributes: one row per doc, admitted is the exact gate conjunction, no gate vacuous") {
    val attrs = TextDedup.docAttributes(spark, sf0001).cache()
    val docs = graft.ops.Core.documents(spark, sf0001)
    assert(attrs.count() == docs.count(), "one attribute row per document")
    val rows = attrs.select("quality_score", "dedup_verdict", "cap_kept",
      "temp_kept", "admitted").as[(Double, String, Int, Int, Int)].collect()
    rows.foreach { case (q, v, c, t, a) =>
      val expect = if (q >= 0.55 && v == "kept" && c == 1 && t == 1) 1 else 0
      assert(a == expect, s"admitted wiring: q=$q v=$v cap=$c temp=$t -> $a")
    }
    // every gate must actually exclude someone on this corpus — a
    // vacuous gate means the composition silently lost a signal
    assert(rows.exists(_._1 < 0.55), "quality gate vacuous")
    assert(rows.exists(_._3 == 0), "cap gate vacuous")
    assert(rows.exists(_._4 == 0), "temperature gate vacuous")
    assert(rows.exists(_._5 == 1) && rows.exists(_._5 == 0), "admission must split")
    // split column reproduces dataset_split's partition sizes
    val bySplit = attrs.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val expectSplit = TextDedup.datasetSplit(spark, sf0001)
      .select("split", "n_docs").as[(String, Long)].collect().toMap
    assert(bySplit == expectSplit, s"split counts $bySplit != $expectSplit")
    // per-lang admitted counts are bounded by the temperature keeps
    val admitted = attrs.filter($"admitted" === 1).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val tempKeeps = graft.ops.Mixture.temperatureSample(spark, sf0001)
      .select("lang", "n_kept").as[(String, Long)].collect().toMap
    admitted.foreach { case (lang, n) =>
      assert(n <= tempKeeps(lang), s"$lang admitted $n > temperature keep ${tempKeeps(lang)}")
    }
    attrs.unpersist()
  }

  test("quality prune keeps the top half per (lang, source) cell") {
    val p = TextDedup.qualityPrune(spark, sf0001).cache()
    // per cell: kept count is exactly ceil(n/2)
    val cells = p.groupBy("lang", "source")
      .agg(count(lit(1)).as("n"), sum("kept").as("n_kept"),
        min(when($"kept" === 1, $"quality_score")).as("min_kept"),
        max(when($"kept" === 0, $"quality_score")).as("max_dropped"))
      .as[(String, String, Long, Long, Option[Double], Option[Double])].collect()
    assert(cells.nonEmpty)
    cells.foreach { case (lang, src, n, kept, minKept, maxDropped) =>
      assert(kept == (n + 1) / 2, s"($lang,$src) kept $kept of $n")
      // no dropped doc outranks a kept doc (ties broken by doc_id can
      // leave equal scores on both sides)
      for (mk <- minKept; md <- maxDropped)
        assert(mk >= md, s"($lang,$src) kept min $mk < dropped max $md")
    }
    p.unpersist()
  }

  test("digest index takedown: keepers vanish, calls accumulate, dup_of backfills NULL") {
    val root = java.nio.file.Files.createTempDirectory("graft_dixtomb").toString
    val idxDir = root + "/idx"
    val docs = graft.ops.Core.documents(spark, sf0001)
    TextDedup.writeDedupIndexFrom(docs, idxDir)
    val ids = docs.filter($"text".isNotNull)
      .orderBy("doc_id").limit(2).select("doc_id").as[Long].collect()
    // the takedown targets re-ingested under fresh ids: without
    // tombstones each is a dup_of_corpus pointing at its original
    val batch = docs.filter($"doc_id".isin(ids.map(Long.box): _*))
      .select(($"doc_id" + 500000L).as("doc_id"), $"text")
    val before = TextDedup.probeDedupIndex(spark, batch, idxDir)
    assert(before.filter($"verdict" === "dup_of_corpus").count() == 2)
    // two sequential takedown calls — the sidecar must accumulate
    TextDedup.writeDedupIndexTombstones(spark, Seq(ids(0)).toDF("doc_id"), idxDir)
    TextDedup.writeDedupIndexTombstones(spark, Seq(ids(1)).toDF("doc_id"), idxDir)
    val after = TextDedup.probeDedupIndex(spark, batch, idxDir).cache()
    assert(after.filter($"verdict" === "new").count() == 2,
      "both takedown calls' keepers must vanish from the index (accumulate)")
    assert(after.filter($"dup_of".isNotNull).isEmpty,
      "a flipped verdict must carry NULL dup_of, not the dead keeper")
    after.unpersist()
  }

  test("digest index compaction hard-forgets; merge refuses a tombstoned input") {
    val root = java.nio.file.Files.createTempDirectory("graft_dixcomp").toString
    val idxDir = root + "/idx"
    val docs = graft.ops.Core.documents(spark, sf0001)
    TextDedup.writeDedupIndexFrom(docs, idxDir)
    val ids = docs.orderBy("doc_id").limit(2).select("doc_id").as[Long].collect()
    val batch = docs.select(($"doc_id" + 500000L).as("doc_id"), $"text")
    TextDedup.writeDedupIndexTombstones(spark, ids.toSeq.toDF("doc_id"), idxDir)
    // a merge over the tombstoned index would resurrect the rows
    val mErr = intercept[IllegalArgumentException] {
      TextDedup.mergeDedupIndexes(spark, Seq(idxDir), root + "/merged") }
    assert(mErr.getMessage.contains("resurrect"))
    // compaction refuses in-place (aliased) targets and un-tombstoned dirs
    val aErr = intercept[IllegalArgumentException] {
      TextDedup.compactDedupIndex(spark, idxDir, idxDir) }
    assert(aErr.getMessage.contains("fresh dir"))
    val fresh = root + "/fresh"; TextDedup.writeDedupIndexFrom(docs.limit(1), fresh)
    val nErr = intercept[IllegalArgumentException] {
      TextDedup.compactDedupIndex(spark, fresh, root + "/fresh2") }
    assert(nErr.getMessage.contains("nothing to forget"))
    // the fold: tombstoned keepers physically absent, probe answers
    // exactly like the tombstone-filtered original
    val newDir = root + "/compacted"
    TextDedup.compactDedupIndex(spark, idxDir, newDir)
    assert(spark.read.parquet(newDir)
        .filter($"keep_id".isin(ids.map(Long.box): _*)).isEmpty,
      "tombstoned keepers must be physically absent after compaction")
    assert(!graft.ops.Core.tableExists(spark, newDir + "/_graft_tombstones"),
      "the compacted index must carry no tombstone table — forgotten, not filtered")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "digest", "verdict", "dup_of")
        .as[(Long, String, String, Option[Long])].collect().sorted.toSeq
    assert(rows(TextDedup.probeDedupIndex(spark, batch, newDir)) ==
      rows(TextDedup.probeDedupIndex(spark, batch, idxDir)),
      "compacted probe must equal the tombstone-filtered original")
  }

  test("simhash index takedown: exclusion equals rebuild-over-live; compaction hard-forgets") {
    val root = java.nio.file.Files.createTempDirectory("graft_shtomb").toString
    val idxDir = root + "/idx"
    val docs = graft.ops.Core.documents(spark, sf0001)
    TextDedup.writeSimhashIndexFrom(docs, idxDir)
    // pick takedown targets that CARRY signatures (>2 tokens) so the
    // hamming-0 self-match is guaranteed, not a fixture accident
    val ids = TextDedup.simhashSigs(docs)
      .orderBy("doc_id").limit(2).select("doc_id").as[Long].collect()
    val batch = docs.select(($"doc_id" + 500000L).as("doc_id"), $"text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect().sorted.toSeq
    val before = rows(TextDedup.probeSimhashIndex(spark, batch, idxDir))
    assert(ids.forall(i => before.exists(_._2 == i)),
      "fixture vacuous: every doc must self-match its shifted twin at hamming 0")
    TextDedup.writeSimhashIndexTombstones(spark, ids.toSeq.toDF("doc_id"), idxDir)
    val after = rows(TextDedup.probeSimhashIndex(spark, batch, idxDir))
    assert(!after.exists(m => ids.contains(m._2)),
      "tombstoned docs must stop matching")
    // per-doc independent index rows: exclusion IS the rebuild
    val rebuildDir = root + "/rebuild"
    TextDedup.writeSimhashIndexFrom(
      docs.filter(!$"doc_id".isin(ids.map(Long.box): _*)), rebuildDir)
    assert(after == rows(TextDedup.probeSimhashIndex(spark, batch, rebuildDir)),
      "tombstone exclusion must equal the rebuild over the live corpus")
    // merge fail-fast + compaction equality
    val mErr = intercept[IllegalArgumentException] {
      TextDedup.mergeSimhashIndexes(spark, Seq(idxDir), root + "/merged") }
    assert(mErr.getMessage.contains("resurrect"))
    val newDir = root + "/compacted"
    TextDedup.compactSimhashIndex(spark, idxDir, newDir)
    assert(spark.read.parquet(newDir)
        .filter($"doc_id".isin(ids.map(Long.box): _*)).isEmpty,
      "tombstoned rows must be physically absent after compaction")
    assert(rows(TextDedup.probeSimhashIndex(spark, batch, newDir)) == after,
      "compacted probe must equal the tombstone-filtered original")
  }

  test("explicit tombstone table unions with the committed sidecar, never overrides it") {
    // r15 review: the explicit-table parameter exists for ad-hoc
    // takedown lists evaluated against an immutable snapshot — it must
    // COMPOSE with committed takedowns, not silently resurrect them.
    val root = java.nio.file.Files.createTempDirectory("graft_tombu").toString
    val idxDir = root + "/idx"
    val docs = graft.ops.Core.documents(spark, sf0001)
    TextDedup.writeDedupIndexFrom(docs, idxDir)
    val ids = docs.filter($"text".isNotNull)
      .orderBy("doc_id").limit(2).select("doc_id").as[Long].collect()
    val batch = docs.filter($"doc_id".isin(ids.map(Long.box): _*))
      .select(($"doc_id" + 500000L).as("doc_id"), $"text")
    TextDedup.writeDedupIndexTombstones(spark, Seq(ids(0)).toDF("doc_id"), idxDir)
    val v = TextDedup.probeDedupIndex(spark, batch, idxDir,
      tombstoneTable = Some(Seq(ids(1)).toDF("doc_id")))
    assert(v.filter($"verdict" === "new").count() == 2,
      "the committed takedown (sidecar) and the ad-hoc list must BOTH apply")
  }

  test("compaction and merge refuse nested directories, not just aliases") {
    // r15 review: a compaction target INSIDE the live index dir plants
    // a non-hidden data subdir that breaks every later flat scan of
    // the index; a source nested under the target would be clobbered
    // by the overwrite. Both directions must refuse before any IO.
    val root = java.nio.file.Files.createTempDirectory("graft_nest").toString
    val idxDir = root + "/idx"
    val docs = graft.ops.Core.documents(spark, sf0001)
    TextDedup.writeSimhashIndexFrom(docs, idxDir)
    TextDedup.writeSimhashIndexTombstones(spark, Seq(1L).toDF("doc_id"), idxDir)
    def refuse(f: => Unit) = intercept[IllegalArgumentException](f)
    assert(refuse(TextDedup.compactSimhashIndex(spark, idxDir, idxDir + "/v2"))
      .getMessage.contains("nests"))
    assert(refuse(TextDedup.compactSimhashIndex(spark, idxDir, root))
      .getMessage.contains("nests"))
    val cleanDir = root + "/clean"
    TextDedup.writeSimhashIndexFrom(docs.limit(3), cleanDir)
    assert(refuse(TextDedup.mergeSimhashIndexes(spark, Seq(cleanDir),
      cleanDir + "/merged")).getMessage.contains("nests"))
  }

  test("aliasing guards resolve dot-dot spellings of the same directory") {
    // r15 review: Hadoop Path keeps '..' segments, so "/a/x/../idx"
    // previously compared unequal to "/a/idx" and slipped past both
    // the equality and containment guards while resolving to the same
    // physical dir — the in-place self-truncation the guards exist to
    // stop. qualifiedPath now URI-normalizes after qualification.
    val root = java.nio.file.Files.createTempDirectory("graft_dotdot").toString
    val idxDir = root + "/idx"
    val docs = graft.ops.Core.documents(spark, sf0001)
    TextDedup.writeSimhashIndexFrom(docs.limit(5), idxDir)
    TextDedup.writeSimhashIndexTombstones(spark, Seq(1L).toDF("doc_id"), idxDir)
    val e = intercept[IllegalArgumentException] {
      TextDedup.compactSimhashIndex(spark, idxDir, root + "/x/../idx") }
    assert(e.getMessage.contains("fresh dir"),
      s"dot-dot alias must be caught by the equality guard, got: ${e.getMessage}")
  }
}
