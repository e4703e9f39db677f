package graft.ops

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted-index store: the one owner of the on-disk format the
  * five persisted-index families share (exact digests, simhash
  * signatures, IVF vectors, vocabulary, drift baselines), and of the
  * cluster artifact roots' takedown table.
  *
  * An index is a parquet directory whose non-hidden entries are all
  * index data. Takedowns of a row-keyed index accumulate under its
  * HIDDEN `_graft_tombstones` sidecar: hidden, because a reader of the
  * index dir scans every non-hidden entry as data. A cluster artifacts
  * root keeps them in a plain `tombstones` table instead, since its
  * tables all live in named subdirs. Probes exclude tombstoned keys at
  * read time ([[live]]), merges refuse tombstoned inputs (a merge
  * unions index rows and cannot carry the exclusion into its output),
  * and compaction hard-forgets the tombstoned rows into a fresh dir.
  *
  * A family supplies only its [[Layout]]. Build, merge and compact all
  * write through it, so an index keeps the layout its probe prunes on
  * across every lifecycle step. Aggregate families (vocab, drift) carry
  * no tombstones: a per-document takedown has no stored counts to
  * subtract, so their forget path is a rebuild. */
object IndexStore {

  /** One persisted-index family's on-disk format:
    *  - `cols`: the index row, in on-disk order;
    *  - `schema`: an explicit read schema, for layouts whose empty
    *    build leaves no data file to infer one from;
    *  - `writer`: the physical write (partition dirs, range layout,
    *    file count), before mode and path;
    *  - `fold`: how a merge combines the union of its inputs' rows;
    *  - `tombstone`: the takedown id column and the index column it
    *    excludes (row-keyed families only). */
  private[ops] final case class Layout(cols: Seq[String],
      schema: Option[String] = None,
      writer: DataFrame => DataFrameWriter[Row] = _.write,
      fold: DataFrame => DataFrame = identity,
      tombstone: Option[(String, String)] = None)

  /** The writer of a table range-laid and sorted on `keys`, so every
    * file and row group covers a narrow key slice and a probe's pushed
    * `key IN (...)` skips the rest on footer min/max stats. */
  private[ops] def rangeLaid(keys: String*)(df: DataFrame): DataFrameWriter[Row] =
    df.repartitionByRange(keys.map(col): _*).sortWithinPartitions(keys.map(col): _*).write

  private def sidecar(indexDir: String): String = s"$indexDir/_graft_tombstones"

  /** A cluster artifacts root's takedown table. */
  private[ops] def clusterTombstones(root: String): String = s"$root/tombstones"

  private[ops] def read(spark: SparkSession, layout: Layout, dir: String): DataFrame =
    layout.schema.fold(spark.read)(spark.read.schema(_)).parquet(dir)

  private[ops] def write(layout: Layout, df: DataFrame, dir: String,
      mode: String = "overwrite"): Unit =
    layout.writer(df).mode(mode).parquet(dir)

  /** Record a takedown list against a row-keyed index. Takes effect on
    * the next probe with no index rewrite; [[compact]] is the
    * hard-forget. */
  private[ops] def writeTombstones(layout: Layout, ids: DataFrame,
      indexDir: String): Unit =
    accumulateTombstones(ids, sidecar(indexDir), layout.tombstone.get._1)

  /** The tombstones a probe of `indexDir` must honour: its committed
    * sidecar united with an explicit takedown table. */
  private[ops] def tombstones(spark: SparkSession, layout: Layout, indexDir: String,
      explicit: Option[DataFrame], memo: Core.FsMemo): Option[DataFrame] =
    resolveTombstones(spark, sidecar(indexDir), explicit, layout.tombstone.get._1, memo)

  /** The one tombstone exclusion: `df` minus every row whose `key` is a
    * resolved `tomb_id`, against a broadcast of the (small by contract)
    * takedown set. */
  private[ops] def live(df: DataFrame, tombstones: Option[DataFrame],
      key: String): DataFrame =
    tombstones.fold(df)(t =>
      df.join(broadcast(t.withColumnRenamed("tomb_id", key)), Seq(key), "left_anti"))

  /** A probe's live view of a row-keyed index: `scan` (the probe's own
    * pruning) over the index read, minus every tombstoned key. The
    * tombstones resolve first, through the caller's memo. */
  private[ops] def liveView(spark: SparkSession, layout: Layout, indexDir: String,
      explicit: Option[DataFrame], memo: Core.FsMemo = new Core.FsMemo)(
      scan: DataFrame => DataFrame): DataFrame = {
    val t = tombstones(spark, layout, indexDir, explicit, memo)
    live(scan(read(spark, layout, indexDir)), t, layout.tombstone.get._2)
  }

  /** MERGE persisted indexes of one family into `outDir`: the union of
    * their rows, combined by the layout's fold and re-laid through its
    * writer. Reads index rows only, never the corpora behind them.
    * Refuses an empty input list, a tombstoned input (its takedowns
    * would resurrect in the merged output), an output that aliases or
    * nests with an input, and inputs that alias or nest with each other
    * (the union would double-count the overlap). */
  private[ops] def merge(spark: SparkSession, layout: Layout, dirs: Seq[String],
      outDir: String, op: String): Unit = {
    require(dirs.nonEmpty, s"$op: need at least one input")
    if (layout.tombstone.nonEmpty) dirs.foreach { d =>
      require(!Core.tableExists(spark, sidecar(d)),
        s"$op: $d carries a committed tombstone table, and a merge would " +
          "silently resurrect its taken-down rows in the merged output — " +
          "hard-forget first (compact it into a fresh dir), then merge that")
    }
    dirs.foreach(requireDisjointDirs(spark, _, outDir, op))
    requirePairwiseDisjoint(spark, dirs, op)
    write(layout, layout.fold(dirs.map(read(spark, layout, _).select(layout.cols.map(col): _*))
      .reduce(_ unionByName _)), outDir)
  }

  /** HARD-FORGET compaction: rewrite a tombstoned index minus its
    * tombstoned rows into a fresh dir, through the layout's writer. No
    * tombstone table lands in the new dir: the ids are forgotten, not
    * filtered. `check` sees the resolved tombstones first and may
    * refuse them. Refuses an aliased or nested target and an index
    * with nothing to forget. */
  private[ops] def compact(spark: SparkSession, layout: Layout, indexDir: String,
      newDir: String, op: String)(check: DataFrame => Unit = _ => ()): Unit = {
    requireDisjointDirs(spark, indexDir, newDir, op)
    require(Core.tableExists(spark, sidecar(indexDir)),
      s"$indexDir carries no committed tombstone table: nothing to forget")
    val (id, key) = layout.tombstone.get
    val tomb = resolveTombstones(spark, sidecar(indexDir), None, id).get
    check(tomb)
    write(layout, live(read(spark, layout, indexDir), Some(tomb), key)
      .select(layout.cols.map(col): _*), newDir)
  }

  /** The registered probes' standing build: an index over the even
    * doc_id half of the corpus, built once per corpus under `kind`. */
  private[ops] def evenHalf(kind: String, dir: String, docs: DataFrame)(
      build: (DataFrame, String) => Unit): String =
    ProbeTemp.dir(kind, dir)(d => build(docs.filter(col("doc_id") % 2 === 0), d))

  /** The merge probes' fixture: three corpus slices (doc_id % 4 = 0, 1,
    * 2) built as separate indexes, then merged; returns the merged dir.
    * The slice builds are independent (disjoint slices, distinct dirs),
    * so they overlap on fresh threads; the merge runs after all three.
    * Built once per corpus under `kind`. */
  private[ops] def mergedSlices(kind: String, dir: String, docs: DataFrame)(
      build: (DataFrame, String) => Unit)(merge: (Seq[String], String) => Unit): String = {
    val root = ProbeTemp.dir(kind, dir) { d =>
      val slices = (0 to 2).map(r => r -> s"$d/slice$r")
      Core.inParallel[Unit](slices.map { case (r, sliceDir) =>
        s"$kind-slice$r" -> (() => build(docs.filter(col("doc_id") % 4 === r), sliceDir))
      })
      merge(slices.map(_._2), s"$d/merged")
    }
    s"$root/merged"
  }

  /** APPEND a takedown list to a tombstone table as new parquet files.
    * An append has no absent-dest window: an interrupted write leaves
    * the old files plus at worst an ignored `_temporary` dir, where a
    * stage-and-swap would lose every tombstone to a crash between its
    * delete and its rename (and an absent table reads as "no
    * takedowns"). The table is an id SET consumed by broadcast
    * anti-joins, so duplicate ids across calls are inert. Single writer,
    * under quiesce. */
  private[ops] def accumulateTombstones(ids: DataFrame, dest: String,
      idCol: String): Unit =
    ids.select(idColumn(ids, idCol).cast("long").as(idCol)).distinct()
      .write.mode("append").parquet(dest)

  /** Tombstones for one probe: an explicitly passed takedown table
    * UNITED with the committed table at `path`, as one long `tomb_id`
    * column. Union, not override: the explicit table evaluates an
    * ad-hoc takedown list against an immutable snapshot, and letting it
    * disable the committed table would resurrect every earlier
    * takedown. Gated on committed data (a torn write reads as never
    * started) through `memo`, with the periodic re-list of an absent
    * table, so a first takedown written under quiesce reaches a live
    * stream within [[Core.absentRelistEvery]] batches. */
  private[ops] def resolveTombstones(spark: SparkSession, path: String,
      explicit: Option[DataFrame], idCol: String,
      memo: Core.FsMemo = new Core.FsMemo): Option[DataFrame] = {
    val committed =
      if (memo.tableExists(spark, path, relistAbsent = true)) Some(spark.read.parquet(path))
      else None
    def ids(df: DataFrame) = df.select(idColumn(df, idCol).cast("long").as("tomb_id"))
    (explicit.map(ids), committed.map(ids)) match {
      case (Some(e), Some(s)) => Some(e.unionByName(s).distinct())
      case (e, s) => e.orElse(s).map(_.distinct())
    }
  }

  /** The id column of a takedown table, BY NAME when the family's id
    * column is present. A single-column frame of any name still
    * resolves (the ad-hoc `SELECT some_ids` shape); any other frame
    * fails instead of tombstoning values from a positionally guessed
    * column. */
  private def idColumn(df: DataFrame, idCol: String): Column =
    if (df.columns.contains(idCol)) col(idCol)
    else {
      require(df.columns.length == 1,
        s"takedown table carries columns [${df.columns.mkString(", ")}] — " +
          s"none named $idCol and not single-column, so the id choice " +
          "would be positional guesswork; select the id column explicitly")
      col(df.columns.head)
    }

  /** Directory disjointness for a rewrite of `src` into `dest`:
    * refuses equality AND containment in either direction, on
    * qualified paths. Equality truncates a lazily read source mid-scan;
    * a target nested inside the live dir plants a data subdir that
    * breaks every later scan of it; a source nested under the target is
    * clobbered by the target's overwrite. */
  private[ops] def requireDisjointDirs(spark: SparkSession, src: String,
      dest: String, what: String): Unit = {
    val (qs, qd) = (Core.qualifiedPath(spark, src), Core.qualifiedPath(spark, dest))
    require(qd != qs,
      s"$what must write to a fresh dir: the live filter reads the old " +
        "index lazily while writing the new one — an in-place overwrite " +
        "would truncate its own source mid-scan")
    require(!qd.startsWith(qs + "/") && !qs.startsWith(qd + "/"),
      s"$what: target $dest nests with source $src — writing into a live " +
        "index dir plants a data subdir that breaks every later scan of " +
        "it, and a source under the target is clobbered by the overwrite")
  }

  /** Pairwise disjointness over a merge's inputs, on qualified paths:
    * a dir listed twice under aliased spellings, or together with one
    * of its own subdirs, would double-count every row of the overlap. */
  private def requirePairwiseDisjoint(spark: SparkSession,
      dirs: Seq[String], what: String): Unit = {
    val q = dirs.map(d => d -> Core.qualifiedPath(spark, d))
    for (i <- q.indices; j <- q.indices if i < j) {
      val ((ra, qa), (rb, qb)) = (q(i), q(j))
      require(qa != qb && !qa.startsWith(qb + "/") && !qb.startsWith(qa + "/"),
        s"$what: inputs $ra and $rb alias or nest — the union would " +
          "double-count every row of the overlap in the merged output")
    }
  }
}
