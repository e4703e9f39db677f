package graft

import org.apache.spark.sql.functions._
import graft.ops.{Components, Similarity}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine in [-1, 1]; self excluded; exactly 5 per query") {
    val tk = Similarity.cosineTopK(spark, sf0001).cache()
    assert(tk.filter(abs($"cosine") > 1.0 + 1e-12).isEmpty)
    assert(tk.filter($"qid" === $"vec_id").isEmpty)
    val counts = tk.groupBy("qid").count().select("count").as[Long].collect()
    assert(counts.forall(_ == 5))
  }

  test("lsh buckets: all vectors bucketed, bucket in [0, 255]") {
    val b = Similarity.lshBuckets(spark, sf0001).cache()
    assert(b.count() == graft.ops.Core.embeddings(spark, sf0001).count())
    assert(b.filter($"bucket" < 0 || $"bucket" > 255).isEmpty)
  }

  test("ivf ann: in-cell top-k with reasonable recall vs exact") {
    val ivf = Similarity.ivfTopK(spark, sf0001).cache()
    assert(ivf.filter($"qid" === $"vec_id").isEmpty)
    assert(ivf.groupBy("qid").count().filter($"count" > 5).isEmpty)
    val exact = Similarity.cosineTopK(spark, sf0001)
      .select($"qid", $"vec_id")
    val hit = exact.join(ivf.select($"qid", $"vec_id"), Seq("qid", "vec_id"))
      .count().toDouble
    val total = exact.count().toDouble
    // nprobe=1 over 16 cells: recall well above chance (5/500 ~ 1%)
    assert(hit / total >= 0.2, s"IVF recall ${hit / total}")
  }

  test("kmeans ivf variant: same shape, trained quantizer") {
    val ivf = Similarity.ivfKMeansTopK(spark, sf0001).cache()
    assert(ivf.filter($"qid" === $"vec_id").isEmpty)
    assert(ivf.groupBy("qid").count().filter($"count" > 5).isEmpty)
  }

  test("multi-probe IVF: recall monotone in nprobe, nprobe=cells is exact") {
    def top5(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val exact = top5(Similarity.cosineTopK(spark, sf0001))
    val frontier = Seq(1, 2, 4, 16).map { np =>
      val hits = top5(Similarity.ivfMultiProbeCore(spark, sf0001, 16, np))
      np -> hits.intersect(exact).size.toDouble / exact.size
    }
    info(s"recall frontier: ${frontier.map { case (n, r) => f"nprobe=$n%d $r%.2f" }.mkString(", ")}")
    // candidate sets grow with nprobe, and with the identical
    // (cosine desc, vec_id) tie-break a larger candidate set can only
    // move the selected 5 TOWARD the global top-5 — recall is monotone
    frontier.sliding(2).foreach { case Seq((n1, r1), (n2, r2)) =>
      assert(r2 >= r1, s"recall must be monotone: nprobe=$n1 $r1 > nprobe=$n2 $r2")
    }
    // probing every cell scores the whole corpus: exact by construction
    assert(frontier.last._2 == 1.0, "nprobe=cells must equal brute force")
    // the registered nprobe=4 must beat single-probe on this corpus
    // (boundary queries exist at every SF; equality would mean the
    // probe ranking is broken)
    assert(frontier(2)._2 > frontier(0)._2,
      s"nprobe=4 must improve on nprobe=1: $frontier")
    // single-probe multi-probe core degenerates to the registered
    // embed_ivf_topk exactly
    assert(top5(Similarity.ivfMultiProbeCore(spark, sf0001, 16, 1)) ==
      top5(Similarity.ivfTopK(spark, sf0001)))
  }

  test("banded near-dup pairs: subset of exact pairs, identical cosines, measured recall") {
    val banded = Similarity.cosineNearDupPairs(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.cosineNearDupPairsExact(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    // soundness: every banded pair is a true >= t pair with the exact
    // bit-identical cosine (the verify step recomputes, never estimates)
    assert(banded.subsetOf(exact),
      s"banded produced ${banded.diff(exact).size} pairs the exact join doesn't have")
    // recall: threshold 0.4 is the hard boundary for hyperplane LSH
    // (p_agree/plane ~0.63 -> expected band recall ~0.75 with 8x4);
    // assert a conservative floor so a banding bug (wrong key packing,
    // dropped band) fails loudly without making the test flaky
    if (exact.nonEmpty) {
      val recall = banded.size.toDouble / exact.size.toDouble
      assert(recall >= 0.4, s"banded recall $recall (${banded.size}/${exact.size})")
    }
  }

  test("near-dup pair sidecar: memoized artifact equals the direct generator") {
    // r13 train-once pair sidecar: each registered tier's pair table is
    // a ProbeTemp parquet artifact shared by the pairs query and its
    // cluster twin; the round-trip must preserve rows, cosines
    // (bit-exact doubles), and name/type schema, else the cluster twin
    // silently clusters a drifted pair set
    val art = Similarity.cosineNearDupPairs(spark, sf0001)
    val direct = Similarity.cosineNearDupPairsDirect(spark, sf0001)
    assert(art.schema.map(f => (f.name, f.dataType)) ==
      direct.schema.map(f => (f.name, f.dataType)),
      s"pair artifact schema drifted: ${art.schema} vs ${direct.schema}")
    val a = art.as[(Long, Long, Double)].collect().sorted.toSeq
    val d = direct.as[(Long, Long, Double)].collect().sorted.toSeq
    assert(a == d, "pair artifact must equal the direct generator output")
    assert(a.nonEmpty, "fixture corpus must produce near-dup pairs")
  }

  test("strict threshold (0.9): every twin pair exists, recall >= 0.95 at BOTH tier extremes") {
    // The selective-recall regime the hi-recall frontier notes defend
    // from theory: at production thresholds (p_agree/plane ~ 0.968 for
    // the ~0.995-cosine twins) banding recall must stay ~1 even at the
    // deep tiers where the 0.4-threshold recall decays to 0.519.
    val aug = Similarity.augmentedEmbeddings(spark, sf0001)
    val exact = Similarity.cosineNearDupPairsExactOver(aug, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val n = graft.ops.Core.embeddings(spark, sf0001).count()
    // every source vector's deterministic twin qualifies, nothing else
    assert(exact.count { case (a, b, _) => b == a + 1000000L } == n)
    assert(exact.size == n, s"unexpected extra >= 0.9 pairs: ${exact.size} vs $n")
    for (r <- Seq(2, 6)) {
      val banded = Similarity.cosineNearDupPairsStrictAt(spark, sf0001, 16, r)
        .as[(Long, Long, Double)].collect().toSet
      assert(banded.subsetOf(exact),
        s"16x$r invented ${banded.diff(exact).size} pairs")
      val recall = banded.size.toDouble / exact.size.toDouble
      info(f"strict 16x$r recall = $recall%.4f (${banded.size}/${exact.size})")
      assert(recall >= 0.95, s"strict 16x$r recall $recall")
    }
    // the registered adaptive query lands on the same machinery
    assert(Similarity.cosineNearDupPairsStrict(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet.subsetOf(exact))
    // decision layer end-to-end: every strict cluster is exactly
    // {v, v + offset} with the original elected survivor
    val clusters = Similarity.embedDedupClustersStrict(spark, sf0001).collect()
    assert(clusters.length == 2 * n)
    clusters.foreach { row =>
      val id = row.getLong(0); val cid = row.getLong(1)
      assert(row.getLong(2) == 2L, s"cluster of $id has size ${row.getLong(2)}")
      assert(cid == (if (id >= 1000000L) id - 1000000L else id),
        s"$id clustered under $cid")
      assert(row.getBoolean(3) == (id == cid))
    }
  }

  test("lean (late-materialization) twin emits exactly the registered pairs") {
    val lean = Similarity.cosineNearDupPairsLean(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    val reg = Similarity.cosineNearDupPairs(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    assert(lean == reg,
      s"lean/registered divergence: ${reg.diff(lean).size} missing, ${lean.diff(reg).size} extra")
  }

  test("hi-recall banding: recall >= 0.8 vs exact, superset of the 8x4 output") {
    val hi = Similarity.cosineNearDupPairsHiRecall(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.cosineNearDupPairsExact(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    val reg = Similarity.cosineNearDupPairs(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    // soundness: verify step recomputes exact cosines, never estimates
    assert(hi.subsetOf(exact),
      s"hi-recall produced ${hi.diff(exact).size} pairs the exact join doesn't have")
    // same 32 planes, finer bands: every 4-bit band hit is two 2-bit hits
    assert(reg.subsetOf(hi),
      s"16x2 banding must contain the 8x4 output, missing ${reg.diff(hi).size}")
    if (exact.nonEmpty) {
      val recall = hi.size.toDouble / exact.size.toDouble
      assert(recall >= 0.8, s"hi-recall banding recall $recall (${hi.size}/${exact.size})")
    }
  }

  test("adaptive hi-recall tiers: pick matches cutoffs, every tier sound vs exact") {
    // the derived rule (r9): r = smallest bits/band with
    // n^2 <= 2^(24+r), floor 2 — integer-exact at every boundary
    assert(Similarity.ndHiCutoff(2) == 8192L)
    assert(Similarity.ndHiCutoff(3) == 11585L)
    assert(Similarity.ndHiCutoff(4) == 16384L)
    assert(Similarity.ndHiCutoff(5) == 23170L)
    assert(Similarity.ndHiCutoff(6) == 32768L)
    assert(Similarity.ndHiPick(1L) == ((16, 2)))
    assert(Similarity.ndHiPick(8192L) == ((16, 2)))
    assert(Similarity.ndHiPick(8193L) == ((16, 3)))
    assert(Similarity.ndHiPick(11585L) == ((16, 3)))
    assert(Similarity.ndHiPick(11586L) == ((16, 4)))
    assert(Similarity.ndHiPick(16384L) == ((16, 4)))
    assert(Similarity.ndHiPick(16385L) == ((16, 5)))
    assert(Similarity.ndHiPick(32768L) == ((16, 6)))
    // the oracle horizon is a tested constant: every n the SQL's
    // count-gated branches cover picks a tier the SQL generates, and
    // the first divergent n (oracle emits maxR pairs, Spark bands
    // maxR+1) is pinned so the boundary can never drift silently
    assert(Similarity.ndHiRows(Similarity.ndHiCutoff(Similarity.ndHiOracleMaxR))
      == Similarity.ndHiOracleMaxR)
    assert(Similarity.ndHiRows(Similarity.ndHiCutoff(Similarity.ndHiOracleMaxR) + 1)
      == Similarity.ndHiOracleMaxR + 1)
    // unbounded growth: +1 bit per sqrt(2)x corpus, until the BIGINT
    // bkey representation cap (62 bits, first binding past n = 2^43)
    assert(Similarity.ndHiRows(1000000L) == 16)
    assert((2 to 20).forall(r =>
      Similarity.ndHiRows(Similarity.ndHiCutoff(r)) == r &&
        Similarity.ndHiRows(Similarity.ndHiCutoff(r) + 1) == r + 1))
    assert(Similarity.ndHiRows(Long.MaxValue) == Similarity.ndHiMaxRows)
    // soundness holds at every tier, not just the one the corpus size
    // selects: the banded candidate set feeds an exact cosine verify,
    // so forced 16x3..16x6 outputs are subsets of the all-pairs join
    // with identical cosines (recall is the documented knob; soundness
    // is not allowed to move)
    val exact = Similarity.cosineNearDupPairsExact(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    Seq(3, 4, 5, 6).foreach { r =>
      val forced = Similarity.cosineNearDupPairsAt(spark, sf0001, 16, r)
        .as[(Long, Long, Double)].collect().toSet
      assert(forced.subsetOf(exact),
        s"16x$r produced ${forced.diff(exact).size} pairs the exact join doesn't have")
    }
  }

  test("int8 quantization: codes in [-127,127], error within half a step per dim") {
    val qz = Similarity.embedQuantize(spark, sf0001).cache()
    assert(qz.filter($"q" < -127 || $"q" > 127).isEmpty)
    // per dim the min/max component quantize exactly onto the codebook
    // ends (q = -127 / +127), so min/max of dequant recover mn/mx and
    // the half-step bound (mx-mn)/254/2 is derivable from the output
    val bound = qz.groupBy("dim")
      .agg(((max($"dequant") - min($"dequant")) / lit(508.0)).as("half_step"))
    val bad = qz.join(bound, "dim").filter($"abs_err" > $"half_step" + lit(1e-12))
    assert(bad.isEmpty, "reconstruction error exceeded half a quantization step")
  }

  test("packed int8 codes agree with the exploded quantization query") {
    val packed = Similarity.quantizeVectorsPacked(spark, sf0001)
      .select($"vec_id", posexplode($"codes").as(Seq("pos", "qp")))
      .select($"vec_id", ($"pos" + 1).cast("int").as("dim"), $"qp".cast("int").as("qp"))
    val exploded = Similarity.embedQuantize(spark, sf0001)
      .select($"vec_id", $"dim", $"q")
    val joined = packed.join(exploded, Seq("vec_id", "dim"), "full_outer")
    assert(joined.filter($"qp".isNull || $"q".isNull || $"qp" =!= $"q").isEmpty,
      "packed codes diverge from the oracle-checked exploded quantization")
  }

  test("sq8 rerank retrieval: recall vs full-precision top-5") {
    val sq8 = Similarity.annSq8TopK(spark, sf0001)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.cosineTopK(spark, sf0001)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recall = sq8.intersect(exact).size.toDouble / exact.size.toDouble
    info(s"sq8 top-5 recall vs exact: $recall (${sq8.intersect(exact).size}/${exact.size})")
    assert(recall >= 0.8, s"sq8 rerank recall $recall below floor")
  }

  test("ann-lsh results are a subset of brute-force candidates' quality") {
    val ann = Similarity.annLshTopK(spark, sf0001).cache()
    // every ANN hit shares the query's bucket by construction; sanity:
    // rank-1 ANN cosine can't exceed rank-1 exact cosine
    val exact1 = Similarity.cosineTopK(spark, sf0001)
      .filter($"rank" === 1).select($"qid", $"cosine".as("best"))
    val ann1 = ann.filter($"rank" === 1).select($"qid", $"cosine".as("annbest"))
    val viol = exact1.join(ann1, "qid").filter($"annbest" > $"best" + 1e-12)
    assert(viol.isEmpty)
  }

  test("diversity sample: cells partition the corpus, rep is its cell's closest member") {
    val d = Similarity.diversitySample(spark, sf0001).cache()
    val total = graft.ops.Core.embeddings(spark, sf0001).count()
    assert(d.agg(sum($"n_members")).as[Long].collect()(0) == total,
      "cell member counts must partition the corpus")
    assert(d.count() <= 16 && d.select("cell").distinct().count() == d.count())
    // independent slow-path recompute: explicit crossJoin + window argmin
    // for the assignment, then the per-cell (dist2, vec_id) minimum
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.dot_product(a, b)
    val emb = graft.ops.Core.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding", dot($"embedding", $"embedding").as("xx"))
    val seeds = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("sid"), $"embedding".as("semb"), $"xx".as("ss"))
    val scored = emb.crossJoin(seeds)
      .select($"vec_id", $"sid",
        ($"ss" - lit(2.0) * dot($"embedding", $"semb")).as("score"), $"xx")
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy($"score", $"sid")
    val assigned = scored.withColumn("rn", row_number().over(wAssign))
      .filter($"rn" === 1)
      .select($"vec_id", $"sid".as("cell"), ($"xx" + $"score").as("dist2"))
    val wRep = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy($"dist2", $"vec_id")
    val slow = assigned.withColumn("rn", row_number().over(wRep))
      .filter($"rn" === 1)
      .select($"cell", $"vec_id".as("exp_rep"), $"dist2".as("exp_dist2"))
    val bad = d.join(slow, "cell")
      .filter($"rep_vec_id" =!= $"exp_rep" || $"rep_dist2" =!= $"exp_dist2")
    assert(bad.isEmpty, "medoid election diverged from the window-argmin recompute")
  }

  test("persisted ivf index: probe equals the inline query, scan prunes to probed cells") {
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/idx"
    Similarity.writeIvfIndex(spark, sf0001, idxDir)
    val probe = Similarity.probeIvfIndex(spark, idxDir)
    val inline = Similarity.ivfTopK(spark, sf0001)
      .select("qid", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val probed = probe.select("qid", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(probed == inline,
      s"probe/inline divergence: ${inline.diff(probed).size} missing, ${probed.diff(inline).size} extra")
    // the isin literal must reach the file index as a PartitionFilter
    // (anchored to the PartitionFilters line — 'cell' also appears in
    // the output schema, so a whole-plan regex would pass vacuously)
    val explained = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pf = explained.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pf.exists(l => l.contains("cell") && l.contains("IN")),
      s"probe must prune on cell, got:\n${pf.mkString("\n")}")
  }

  test("ivf delete path: exclusion backfills, compaction hard-forgets, codebook frozen") {
    // r15 — the ANN family's takedown. Victims: every rank-1 neighbor
    // outside the codebook range, so each query's list MUST change
    // (its top slot is deleted, pinning backfill) and the cheap
    // compaction stays legal (no seed tombstoned).
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivftomb").toString + "/idx"
    Similarity.writeIvfIndex(spark, sf0001, idxDir)
    def top5(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val baseline = top5(Similarity.probeIvfIndex(spark, idxDir))
    val victims = baseline.filter(r => r._4 == 1 && r._2 >= 16L).map(_._2).toSeq.sorted
    assert(victims.nonEmpty, "fixture: need a rank-1 neighbor outside the codebook")
    // two takedown calls must ACCUMULATE (the shared append-mode table)
    Similarity.writeIvfTombstones(spark, victims.take(1).toDF("vec_id"), idxDir)
    Similarity.writeIvfTombstones(spark, victims.drop(1).toDF("vec_id"), idxDir)
    val live = top5(Similarity.probeIvfIndex(spark, idxDir)) // sidecar read by default
    assert(!live.exists(r => victims.contains(r._2)), "tombstoned ids leaked as neighbors")
    assert(live != baseline, "deleting every rank-1 neighbor must change the top-5")
    // backfill ground truth: the index REBUILT over corpus minus victims.
    // Victims sit outside the codebook range, so the rebuild derives the
    // IDENTICAL codebook and the filtered probe must match bit-for-bit —
    // next-nearest vectors promoted into every freed slot.
    val minusDir = java.nio.file.Files.createTempDirectory("graft_ivfminus").toString
    graft.ops.Core.embeddings(spark, sf0001)
      .filter(!$"vec_id".isin(victims: _*))
      .write.parquet(s"$minusDir/embeddings.parquet")
    val rebuiltIdx = java.nio.file.Files.createTempDirectory("graft_ivfrb").toString + "/idx"
    Similarity.writeIvfIndex(spark, minusDir, rebuiltIdx)
    assert(top5(Similarity.probeIvfIndex(spark, rebuiltIdx)) == live,
      "tombstone-filtered probe must equal the rebuild over the live corpus")
    // hard-forget: the compacted index answers identically with NO
    // filter left, carries no tombstone table, and the bytes are gone
    val newDir = java.nio.file.Files.createTempDirectory("graft_ivfcomp").toString + "/idx"
    Similarity.compactIvfIndex(spark, idxDir, newDir)
    assert(top5(Similarity.probeIvfIndex(spark, newDir)) == live,
      "compacted index must answer exactly like the tombstone-filtered original")
    assert(!graft.ops.Core.tableExists(spark, s"$newDir/_graft_tombstones"),
      "compaction must not carry the tombstone table forward")
    assert(spark.read.parquet(newDir).filter($"vec_id".isin(victims: _*)).isEmpty,
      "forgotten vectors must be physically absent from the compacted index")
    // aliased target refused (qualified-path compare, not raw strings)
    intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(spark, idxDir, idxDir + "/")
    }
    // a tombstoned codebook SEED: hidden from probe results immediately,
    // but the cheap fold refuses — its raw vector also lives in the seed
    // sidecar, so hard-forgetting it requires the full retrain
    Similarity.writeIvfTombstones(spark, Seq(7L).toDF("vec_id"), idxDir)
    assert(!top5(Similarity.probeIvfIndex(spark, idxDir)).exists(_._2 == 7L),
      "a tombstoned seed's data row must vanish from results")
    intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(spark, idxDir,
        java.nio.file.Files.createTempDirectory("graft_ivfcomp2").toString + "/idx")
    }
  }

  test("registered ivf tombstone probe: fixture non-vacuous, seed slice excluded") {
    def top5(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val base = top5(Similarity.ivfIndexProbe(spark, sf0001))
    val tomb = top5(Similarity.ivfTombstoneProbe(spark, sf0001))
    assert(!tomb.exists(_._2 % 10 == 7), "takedown slice must be excluded")
    assert(tomb != base,
      "fixture vacuous: the % 10 = 7 takedown must displace some top-5 row")
    // queries are untouched by the slice (% 50 = 0 never hits % 10 = 7),
    // so the query set itself must be identical — only neighbors move
    assert(tomb.map(_._1) == base.map(_._1),
      "the takedown slice must not remove any query")
  }

  test("ivf index append: original codebook preserved, copies land in their twins' cells") {
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfapp").toString + "/idx"
    Similarity.writeIvfIndex(spark, sf0001, idxDir)
    val before = spark.read.parquet(idxDir)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)].collect().toMap
    // append exact COPIES of existing vectors under new ids: under the
    // SAME codebook each copy must be assigned its twin's cell — an
    // exact expectation with no scoring arithmetic replicated in the test
    val emb = graft.ops.Core.embeddings(spark, sf0001)
    val copies = emb.filter($"vec_id" % 7 === 3)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding", $"label")
    val nCopies = copies.count()
    Similarity.appendToIvfIndex(spark, copies, idxDir)
    val after = spark.read.parquet(idxDir)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)].collect().toMap
    assert(after.size == before.size + nCopies, "append must add exactly the batch")
    before.foreach { case (id, c) =>
      assert(after(id) == c, s"existing vector $id moved cell $c -> ${after(id)}")
    }
    after.filter(_._1 >= 100000L).foreach { case (id, c) =>
      assert(c == before(id - 100000L),
        s"copy $id landed in cell $c, twin ${id - 100000L} sits in ${before(id - 100000L)}")
    }
    // the id-uniqueness guard: re-appending the SAME batch must be
    // rejected — the sorted id sidecar absorbed the first append, so
    // the range-pruned semi-join sees the clash...
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, copies, idxDir)
    }
    // batch-INTERNAL duplicates must be rejected too (r10 ADVICE: two
    // rows sharing a fresh vec_id pass the index-side semi-join —
    // neither is in the sidecar yet — and would land two vectors
    // under one id in a single append)
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark,
        copies.limit(1).select(($"vec_id" + 300000L).as("vec_id"), $"embedding", $"label")
          .unionAll(copies.limit(1)
            .select(($"vec_id" + 300000L).as("vec_id"), $"embedding", $"label")),
        idxDir)
    }
    // ...while a fresh id range sails through (the guard prunes to the
    // overlapping sidecar files; a disjoint range reads ~nothing).
    // Ties at cosine 1.0 resolve by vec_id ASC, so the later probe
    // assertions (twin at +100000 on top) are unaffected.
    Similarity.appendToIvfIndex(spark,
      emb.filter($"vec_id" % 7 === 3)
        .select(($"vec_id" + 200000L).as("vec_id"), $"embedding", $"label"),
      idxDir)
    // probing the appended index: every query whose twin-copy exists
    // must now rank it at the top with cosine ~ 1 (same cell by the
    // twin argument, identical vector up to float sqrt rounding)
    val probed = Similarity.probeIvfIndex(spark, idxDir)
      .filter($"rank" === 1 && ($"qid" % 7 === 3) && $"qid" < 100000L)
      .select($"qid", $"vec_id", $"cosine").as[(Long, Long, Double)].collect()
    assert(probed.nonEmpty, "expected probed queries with appended twins")
    probed.foreach { case (qid, vid, cos) =>
      assert(vid == qid + 100000L && cos > 0.999999,
        s"query $qid top neighbor should be its twin, got $vid at $cos")
    }
  }

  test("ivf index append rejects NULL vec_ids, one or several") {
    // a NULL id is invisible to min/max/count(vec_id)/count_distinct, so
    // without the row count it passed the codebook-range and duplicate
    // guards and landed an unaddressable vector
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfnull").toString + "/idx"
    Similarity.writeIvfIndex(spark, sf0001, idxDir)
    val emb = graft.ops.Core.embeddings(spark, sf0001)
    val fresh = emb.filter($"vec_id" % 7 === 3).limit(2)
      .select(($"vec_id" + 500000L).as("vec_id"), $"embedding", $"label")
    val nullRow = emb.limit(1)
      .select(lit(null).cast("long").as("vec_id"), $"embedding", $"label")
    Seq("one NULL" -> fresh.unionAll(nullRow),
        "two NULLs" -> fresh.unionAll(nullRow).unionAll(nullRow)).foreach { case (name, batch) =>
      val e = intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndex(spark, batch, idxDir)
      }
      assert(e.getMessage.contains("NULL"), s"$name: ${e.getMessage}")
    }
    assert(spark.read.parquet(idxDir)
      .filter($"vec_id".isNull || $"vec_id" >= 500000L).isEmpty, "a rejected batch landed rows")
  }

  test("ivf index append rebuilds a torn id sidecar, and the guard still holds after") {
    // a sidecar materialisation that died mid-write leaves only
    // `_temporary/`; gating on bare existence would skip the rebuild and
    // every later append would fail schema inference on the torn dir
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivftorn").toString + "/idx"
    Similarity.writeIvfIndex(spark, sf0001, idxDir)
    val ids = new java.io.File(s"$idxDir/_graft_ids")
    org.apache.commons.io.FileUtils.deleteDirectory(ids)
    assert(new java.io.File(ids, "_temporary/0").mkdirs())
    val emb = graft.ops.Core.embeddings(spark, sf0001)
    Similarity.appendToIvfIndex(spark, emb.filter($"vec_id" % 7 === 3)
      .select(($"vec_id" + 600000L).as("vec_id"), $"embedding"), idxDir)
    assert(spark.read.parquet(idxDir).filter($"vec_id" >= 600000L).count() ==
      emb.filter($"vec_id" % 7 === 3).count(), "the fresh batch must land")
    // reuse of a STANDING id (rebuilt sidecar) and of an APPENDED id
    // (sidecar kept complete after the append) are both still refused
    Seq(emb.filter($"vec_id" === 20L).select($"vec_id", $"embedding"),
        emb.filter($"vec_id" % 7 === 3).limit(1)
          .select(($"vec_id" + 600000L).as("vec_id"), $"embedding")).foreach { reuse =>
      val e = intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndex(spark, reuse, idxDir)
      }
      assert(e.getMessage.contains("reuses"), e.getMessage)
    }
  }

  test("knn label propagation: full coverage, bounded votes, vote matches a recount") {
    val out = Similarity.knnLabelPropagation(spark, sf0001).cache()
    val emb = graft.ops.Core.embeddings(spark, sf0001)
    val nUnlabeled = emb.filter($"vec_id" % 5 =!= 0).count()
    // every unlabeled vector gets exactly one prediction
    assert(out.count() == nUnlabeled)
    assert(out.select("vec_id").distinct().count() == nUnlabeled)
    // votes bounded by k; predicted labels come from the seed label set
    assert(out.filter($"n_votes" < 1 || $"n_votes" > 5).isEmpty)
    val seedLabels = emb.filter($"vec_id" % 5 === 0)
      .select($"label").distinct().as[Int].collect().toSet
    assert(out.filter(!$"pred_label".isin(seedLabels.toSeq: _*)).isEmpty)
    // spot recount: for one target, the majority label over its exact
    // 5 nearest seeds (cosine desc, sid tie-break) must equal pred
    val target = out.select($"vec_id").as[Long].head()
    val tv = emb.filter($"vec_id" === target).select($"embedding")
      .as[Seq[Float]].head()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      d / (na * nb)
    }
    val near5 = emb.filter($"vec_id" % 5 === 0)
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect()
      .map { case (sid, v, l) => (cos(tv, v), sid, l) }
      .sortBy { case (c, sid, _) => (-c, sid) }.take(5)
    val want = near5.groupBy(_._3).view.mapValues(_.size).toSeq
      .sortBy { case (l, n) => (-n, l) }.head._1
    val got = out.filter($"vec_id" === target).select($"pred_label").as[Int].head()
    assert(got == want, s"vote recount for $target: got $got want $want")
    out.unpersist()
  }

  test("ann knn vote: candidates from probed cells only, vote matches a recount, measured agreement vs exact") {
    val ann = Similarity.knnLabelPropagationAnn(spark, sf0001).cache()
    val exact = Similarity.knnLabelPropagation(spark, sf0001).cache()
    val emb = graft.ops.Core.embeddings(spark, sf0001)
    // shape: at most one prediction per target, votes bounded by k,
    // coverage can only shrink vs exact (targets with no seed in the
    // probed cells drop out)
    assert(ann.select("vec_id").distinct().count() == ann.count())
    assert(ann.count() <= exact.count() && ann.count() > 0)
    assert(ann.filter($"n_votes" < 1 || $"n_votes" > 5).isEmpty)
    // full mechanics recount for one target, driver-side from scratch:
    // centroids -> probe cells -> in-cell seeds -> top-5 -> majority
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val vecs = emb.select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect().sortBy(_._1)
    val cents = vecs.filter(_._1 < 16)
    def cellScores(v: Seq[Float]): Seq[(Double, Long)] = cents.toSeq.map { case (cid, c, _) =>
      val cc = c.map(x => x.toDouble * x.toDouble).sum
      val xc = v.zip(c).map { case (x, y) => x.toDouble * y.toDouble }.sum
      (cc - 2.0 * xc, cid)
    }.sorted
    def homeCell(v: Seq[Float]): Long = cellScores(v).head._2
    val target = ann.select($"vec_id").as[Long].head()
    val tv = vecs.find(_._1 == target).get._2
    val probed = cellScores(tv).take(4).map(_._2).toSet
    val cand = vecs.filter { case (sid, sv, _) => sid % 5 == 0 && probed.contains(homeCell(sv)) }
    val near5 = cand.map { case (sid, sv, l) => (cos(tv, sv), sid, l) }
      .sortBy { case (c, sid, _) => (-c, sid) }.take(5)
    val want = near5.groupBy(_._3).view.mapValues(_.size).toSeq
      .sortBy { case (l, n) => (-n, l) }.head._1
    val got = ann.filter($"vec_id" === target).select($"pred_label").as[Int].head()
    assert(got == want, s"ann vote recount for $target: got $got want $want")
    // the measured frontier: fraction of shared targets where the
    // candidate-restricted vote agrees with the exact vote (recorded
    // in the knnLabelPropagationAnn scaladoc; the absolute level is
    // this corpus's near-isotropy, not the operator)
    val joined = ann.select($"vec_id", $"pred_label".as("p_ann"))
      .join(exact.select($"vec_id", $"pred_label".as("p_exact")), "vec_id")
    val agree = joined.filter($"p_ann" === $"p_exact").count().toDouble / joined.count()
    info(f"ann-vs-exact prediction agreement: $agree%.3f over ${joined.count()} shared targets")
    assert(agree > 0.15, s"ann vote agreement $agree implausibly below the random baseline")
    ann.unpersist(); exact.unpersist()
  }

  test("embed cluster append equals the full-corpus rebuild") {
    // r14: the text cluster family's incremental lifecycle applied to
    // the semantic (embedding) clusters — the standing (even-vec_id)
    // corpus's band index + vector sidecar + cluster sidecar absorb
    // the odd-vec_id batch through batch-sized work, and the
    // star-replacement argument says the result must EQUAL
    // re-clustering the full corpus from scratch (merges and survivor
    // re-election included). Frame equality pins it end to end.
    val inc = Similarity.embedDedupClustersAppendProbe(spark, sf0001)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val full = graft.ops.Components.clusterPairs(
      Similarity.cosineNearDupPairsDirect(spark, sf0001),
      "vec_a", "vec_b", "vec_id")
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(inc == full, s"embed append diverged from the rebuild " +
      s"(${inc.size} vs ${full.size} rows)")
    assert(inc.nonEmpty, "fixture corpus must produce clusters")
    assert(inc.exists(_._1 % 2 == 1), "no batch vector clustered — probe untested")
    assert(inc.groupBy(_._2).values.exists(m => m.count(_._1 % 2 == 0) >= 2),
      "no even-even cluster — star edges untested")
  }

  test("embed tombstones: excluded everywhere, hub re-elected, accumulate across calls") {
    // r15 (VERDICT r14 #4): the text family's delete contract ported
    // to vectors. Synthetic corpus — standing {2,4,6} are IDENTICAL
    // vectors (a clique cluster: no member is a cut vertex, so
    // append-with-tombstones must EQUAL the rebuild over the live
    // corpus), {8,10} mutually orthogonal singletons; batch doc 7
    // repeats the clique vector, 9 is orthogonal to everything.
    // Tombstoning the HUB (vec 2) exercises re-election on the
    // sidecar replay.
    val clique = Array.tabulate(64)(_ => 1.0f).toSeq
    def alt(period: Int) =
      Array.tabulate(64)(i => if ((i / period) % 2 == 0) 1.0f else -1.0f).toSeq
    val vecs = Seq(
      (2L, clique), (4L, clique), (6L, clique),
      (8L, alt(1)), (10L, alt(2)),
      (7L, clique), (9L, alt(4)))
    val standing = vecs.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
    val batch = vecs.filter(_._1 % 2 == 1).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft_etomb").toString
    Similarity.writeEmbedClusterAppendArtifacts(spark, standing, root)
    Similarity.writeEmbedClusterTombstones(spark, Seq(2L).toDF("vec_id"), root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val appended = rows(Components.appendClusters(spark, Similarity.clusterTerms, batch, root))
    assert(!appended.exists(_._1 == 2L), "tombstoned vector leaked into the output")
    // clique minus one member stays connected: append must equal the
    // rebuild over the live corpus ({4,6} ∪ batch) from scratch
    val rebuildRoot = java.nio.file.Files.createTempDirectory("graft_etomb_rb").toString
    Similarity.writeEmbedClusterAppendArtifacts(spark,
      standing.filter($"vec_id" =!= 2L).union(batch), rebuildRoot)
    val rebuilt = rows(spark.read.parquet(s"$rebuildRoot/clusters"))
    assert(appended == rebuilt,
      s"non-bridge tombstone diverged from the rebuild ($appended vs $rebuilt)")
    assert(appended.filter(_._2 == 4L).map(_._1).toSet == Set(4L, 6L, 7L),
      "re-elected cluster must hold exactly the live members under new hub 4")
    // accumulate: a second takedown call must KEEP the first's ids
    Similarity.writeEmbedClusterTombstones(spark, Seq(4L).toDF("vec_id"), root)
    assert(spark.read.parquet(s"$root/tombstones")
        .as[Long].collect().toSet == Set(2L, 4L),
      "second takedown call must accumulate onto the first, not replace it")
    // a REPEATED id is inert (append-mode files may hold duplicates;
    // the table is a set under anti-join semantics, r15 review)
    Similarity.writeEmbedClusterTombstones(spark, Seq(2L).toDF("vec_id"), root)
    assert(spark.read.parquet(s"$root/tombstones")
        .as[Long].collect().toSet == Set(2L, 4L),
      "re-tombstoning an id must not change the takedown set")
    val after = rows(Components.appendClusters(spark, Similarity.clusterTerms, batch, root))
    assert(after.map(_._1).toSet == Set(6L, 7L) && after.forall(_._2 == 6L),
      s"both takedown calls' ids must stay excluded (got $after)")
  }

  test("registered embed tombstone probe: fixture non-vacuous, tombstones excluded") {
    // mirror of the text probe's vacuity guard: prove the % 10 = 4
    // slice hits standing clusters (including a hub) at the driver's
    // parity SF, so exclusion AND re-election genuinely run under the
    // oracle gate
    val dir = "/root/testdata/sf0.01"
    val vecs = graft.ops.Core.embeddings(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_etomb_nv").toString
    Similarity.writeEmbedClusterAppendArtifacts(spark,
      vecs.filter($"vec_id" % 2 === 0), root)
    val standing = spark.read.parquet(s"$root/clusters")
    val tomb = standing.filter($"vec_id" % 10 === 4).cache()
    assert(tomb.count() > 0,
      "no tombstoned vector sits in a standing cluster — exclusion gate vacuous")
    assert(tomb.filter($"vec_id" === $"cluster_id").count() > 0,
      "no tombstoned hub — re-election path unexercised by the gate")
    val out = Similarity.embedDedupClustersTombstoneProbe(spark, dir)
    assert(out.filter($"vec_id" % 10 === 4).isEmpty,
      "tombstoned vectors leaked into the registered probe's output")
    assert(out.count() > 0, "probe output empty")
    tomb.unpersist()
  }

  test("embed cumulative append with tombstones equals the single-shot delete semantics") {
    // r15: the embed twin of the text lifecycle matrix's last cell —
    // spec-gated at the driver's parity SF (the text twin carries the
    // DuckDB gate for this composition; the SQL shape is shared).
    // Standing = even vec_ids, takedown = vec_id % 10 = 4 (the
    // registered tombstone fixture, proven non-vacuous by its own
    // spec), odd half split % 4 into two cumulative batches: the
    // final table must frame-equal the single-shot
    // append-with-tombstones over all odds.
    val dir = "/root/testdata/sf0.01"
    val vecs = graft.ops.Core.embeddings(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_ectomb").toString
    val state = java.nio.file.Files.createTempDirectory("graft_ectomb_s").toString
    Similarity.writeEmbedClusterAppendArtifacts(spark,
      vecs.filter($"vec_id" % 2 === 0), root)
    val tomb = Some(vecs.filter($"vec_id" % 10 === 4).select("vec_id"))
    val odd = vecs.filter($"vec_id" % 2 === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    Components.appendClusters(spark, Similarity.clusterTerms,
      odd.filter($"vec_id" % 4 === 1), root, Some(0L -> state), tombstoneTable = tomb)
    val cumulative = rows(Components.appendClusters(spark, Similarity.clusterTerms,
      odd.filter($"vec_id" % 4 === 3), root, Some(1L -> state), tombstoneTable = tomb))
    val singleShot = rows(
      Components.appendClusters(spark, Similarity.clusterTerms, odd, root, tombstoneTable = tomb))
    assert(cumulative == singleShot,
      s"embed cumulative+tombstones diverged from the single-shot form " +
        s"(${cumulative.size} vs ${singleShot.size} rows)")
    assert(cumulative.nonEmpty && !cumulative.exists(_._1 % 10 == 4),
      "tombstoned vectors must stay excluded")
  }

  test("embed compaction refuses aliased directories fail-fast") {
    // r15 review: the text fold's aliasing guards, mirrored
    val r = "/tmp/graft_ealias/root"; val s = "/tmp/graft_ealias/state"
    def refuse(f: => Unit) = intercept[IllegalArgumentException](f)
    refuse(Similarity.compactEmbedClusterState(spark, r, s, r))
    refuse(Similarity.compactEmbedClusterState(spark, r, s, s))
    refuse(Similarity.compactEmbedClusterState(spark, r, r, "/tmp/graft_ealias/n"))
    // aliased SPELLINGS of the same dir (trailing slash, scheme, //)
    // must refuse too — fully-qualified path compares (r15 review)
    refuse(Similarity.compactEmbedClusterState(spark, r, s, s + "/"))
    refuse(Similarity.compactEmbedClusterState(spark, r, s, s"file:$s"))
    refuse(Similarity.compactEmbedClusterState(spark, r, r + "//", "/tmp/graft_ealias/n"))
  }

  test("embed append must not self-pair a re-ingested vec_id (r15 review)") {
    // a batch vector whose id is already in the standing index used
    // to band-match ITSELF, cosine-verify at 1.0, and surface as a
    // singleton cluster the rebuild never emits. Standing: two
    // orthogonal singletons (empty cluster sidecar); the batch
    // re-ingests one verbatim — the append must emit NOTHING.
    def alt(period: Int) =
      Array.tabulate(64)(i => if ((i / period) % 2 == 0) 1.0f else -1.0f).toSeq
    val standing = Seq((2L, alt(1)), (4L, alt(2))).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft_eselfpair").toString
    Similarity.writeEmbedClusterAppendArtifacts(spark, standing, root)
    val out = Components.appendClusters(
        spark, Similarity.clusterTerms, standing.filter($"vec_id" === 2L), root)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out.isEmpty,
      s"re-ingesting an unmatched standing vector must not fabricate a cluster: $out")
  }

  test("embed cumulative replay survives partial state (bands written, vecs lost)") {
    // r15 review: the prior-state read coupled the vecs read to the
    // BANDS existence check, so a crash between the two state writes
    // made every replay of the batch throw at plan time — an
    // unrecoverable crash loop. Simulate the torn write: run batch 0,
    // delete stateDir/vecs, replay batch 0 — the replay must succeed
    // and emit the same table (its own partial bands partition is
    // filtered by batch_id < batchId, so no prior term exists yet).
    val clique = Array.tabulate(64)(_ => 1.0f).toSeq
    def alt(period: Int) =
      Array.tabulate(64)(i => if ((i / period) % 2 == 0) 1.0f else -1.0f).toSeq
    val standing = Seq((2L, clique), (4L, clique), (8L, alt(1)))
      .toDF("vec_id", "embedding")
    val batch = Seq((7L, clique), (9L, alt(2))).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft_etorn").toString
    val state = java.nio.file.Files.createTempDirectory("graft_etorn_s").toString
    Similarity.writeEmbedClusterAppendArtifacts(spark, standing, root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val first = rows(Components.appendClusters(
      spark, Similarity.clusterTerms, batch, root, Some(0L -> state)))
    // tear: bands survived, vecs did not
    def sweep(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(sweep(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    sweep(java.nio.file.Paths.get(s"$state/vecs"))
    assert(!graft.ops.Core.pathExists(spark, s"$state/vecs"))
    val replayed = rows(Components.appendClusters(
      spark, Similarity.clusterTerms, batch, root, Some(0L -> state)))
    assert(replayed == first,
      s"torn-state replay must reproduce the original batch output")
    // and the replay healed the state: both tables exist again
    assert(graft.ops.Core.pathExists(spark, s"$state/vecs") &&
      graft.ops.Core.pathExists(spark, s"$state/bands"))
  }

  test("registered embed cumulative probe: fixture non-vacuous, equals the rebuild") {
    // r15: the embed cumulative gate's vacuity guard + the equality
    // its DuckDB oracle pins — some cluster must hold odd vectors
    // from two different % 4 sub-batches (so a cross-batch VERIFIED
    // merge genuinely runs), and the probe's last-batch output must
    // equal the full-corpus rebuild.
    val dir = "/root/testdata/sf0.01"
    val full = graft.ops.Components.clusterPairs(
      Similarity.cosineNearDupPairsDirect(spark, dir),
      "vec_a", "vec_b", "vec_id")
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val crossBatch = full.groupBy(_._2).values.exists { members =>
      members.filter(_._1 % 2 == 1).map(_._1 % 4).distinct.size >= 2
    }
    assert(crossBatch,
      "no cluster holds odd vectors from two different % 4 sub-batches — " +
        "the cumulative gate would be vacuous")
    val got = Similarity.embedDedupClustersCumulativeProbe(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(got == full,
      s"embed cumulative probe diverged from the rebuild (${got.size} vs ${full.size})")
  }

  test("hi-recall clusters: refine-merge of the 8x4 clusters, no dropped duplicate decision") {
    val hi = Similarity.embedDedupClustersHiRecall(spark, sf0001).cache()
    val reg = Similarity.embedDedupClusters(spark, sf0001).cache()
    // the 16x2 pair set contains the 8x4 set, so every 8x4 cluster
    // must land INSIDE one 16x2 cluster (cluster refinement upward):
    // per reg cluster, all members share one hi cluster id
    val merged = reg.select($"vec_id", $"cluster_id".as("reg_c"))
      .join(hi.select($"vec_id", $"cluster_id".as("hi_c")), "vec_id")
    assert(merged.count() == reg.count(),
      "every vector the 8x4 clustering decided on must appear in the hi-recall clustering")
    val split = merged.groupBy("reg_c")
      .agg(org.apache.spark.sql.functions.countDistinct($"hi_c").as("n"))
      .filter($"n" > 1)
    assert(split.isEmpty, "a 8x4 cluster split across hi-recall clusters breaks pair containment")
    // superset-or-equal recall story: the hi point may only merge
    // clusters, so a vector reg marked duplicate (non-survivor) can
    // never become a survivor at the hi point
    val regained = reg.filter(!$"is_survivor").select("vec_id")
      .join(hi.filter($"is_survivor").select("vec_id"), "vec_id")
    assert(regained.isEmpty,
      "hi-recall clustering resurrected a duplicate the 8x4 point had dropped")
    info(s"clusters: reg=${reg.select("cluster_id").distinct().count()} over ${reg.count()} vectors, " +
      s"hi=${hi.select("cluster_id").distinct().count()} over ${hi.count()} vectors")
    hi.unpersist(); reg.unpersist()
  }
}
