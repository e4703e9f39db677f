package graft

import org.apache.spark.sql.functions._

/** A non-`file:` Hadoop scheme backed by the local filesystem —
  * registered under `fs.mockfs.impl` so tests can exercise the
  * storage-abstraction boundary without an HDFS/S3 endpoint.
  * RawLocalFileSystem maps a path's URI path component straight onto
  * the local disk; only the SCHEME differs, which is exactly the
  * dimension under test (java.io.File cannot resolve it, the Hadoop
  * FS API can). Public no-arg class: Hadoop instantiates it by
  * reflection. */
class MockSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

/** A local filesystem whose `listStatus` throws FileNotFoundException
  * for the paths in [[VanishingListFs.vanished]]: a directory deleted
  * (by a compaction or cleanup) between an existence check and its
  * listing. Public no-arg class: Hadoop instantiates it by reflection. */
class VanishingListFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("vanishfs:///")
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    if (VanishingListFs.vanished.contains(p.toUri.getPath))
      throw new java.io.FileNotFoundException(s"$p vanished")
    else super.listStatus(p)
}

object VanishingListFs {
  @volatile var vanished: Set[String] = Set.empty
}

/** Pins the Hadoop-FS existence idiom on a non-`file:` scheme (r15,
  * VERDICT r14 #3's "done" criterion): the r14 tombstone/state checks
  * regressed to java.io.File.exists, which answers FALSE for every
  * non-local scheme — on HDFS/S3 that silently skipped tombstones
  * (takedowns no-op'd) and dropped prior-batch cumulative state,
  * wrong answers with no error. Core.pathExists (the shared fix)
  * must keep resolving through the path's own FileSystem, so this
  * spec drives it — and the optional-artifact pattern it guards
  * (a parquet table written then existence-checked then read) —
  * through a scheme java.io.File provably cannot see. */
class PathSchemeSpec extends SparkSpec {

  private def withMockFs[T](f: String => T): T = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockfs.impl", classOf[MockSchemeFs].getName)
    val base = java.nio.file.Files.createTempDirectory("graft_scheme")
    try f(s"mockfs://${base.toString}")
    finally {
      def sweep(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.list(p).forEach(sweep(_))
        java.nio.file.Files.deleteIfExists(p)
      }
      sweep(base)
    }
  }

  test("Core.pathExists resolves a non-file: scheme that java.io.File cannot") {
    withMockFs { root =>
      val dir = s"$root/artifact"
      // not written yet: both the Hadoop view and the local view agree
      assert(!graft.ops.Core.pathExists(spark, dir))
      new java.io.File(new java.net.URI(dir).getPath).mkdirs()
      assert(graft.ops.Core.pathExists(spark, dir),
        "pathExists must see a directory behind a registered non-file: scheme")
      // the regression under pin: handing the schemed STRING to
      // java.io.File — the r14 bug's exact shape — answers false for
      // an artifact that exists
      assert(!new java.io.File(dir).exists(),
        "precondition: java.io.File cannot resolve the schemed path " +
          "(if this ever passes, the mock scheme stopped testing anything)")
    }
  }

  test("optional parquet artifact round-trips through a non-file: scheme") {
    withMockFs { root =>
      val tomb = s"$root/tombstones"
      assert(!graft.ops.Core.pathExists(spark, tomb),
        "missing optional artifact must read as absent")
      // the tombstone-table pattern end-to-end: write, existence-check,
      // read back — all through the mock scheme's FileSystem
      spark.range(0, 5).select(col("id").as("doc_id"))
        .write.mode("overwrite").parquet(tomb)
      assert(graft.ops.Core.pathExists(spark, tomb),
        "written optional artifact must read as present")
      val back = spark.read.parquet(tomb)
      assert(back.count() == 5L)
      assert(back.agg(sum(col("doc_id"))).head().getLong(0) == 10L)
    }
  }

  test("tableExists reads a torn write (_temporary-only dir) as absent") {
    withMockFs { root =>
      val tomb = s"$root/tombstones"
      // the torn-write shape: FileOutputCommitter created _temporary
      // (plus an in-flight task file under it) but committed nothing —
      // the dir EXISTS, yet spark.read.parquet would throw "Unable to
      // infer schema" at plan time, so a bare-existence gate turns one
      // interrupted optional write into a permanent crash loop
      val local = new java.net.URI(tomb).getPath
      // the real in-flight layout: task attempts stage under a NESTED
      // _temporary (committed task dirs sit directly under the job
      // attempt dir, so planting there would read as committed output)
      new java.io.File(s"$local/_temporary/0/_temporary/attempt_0").mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          s"$local/_temporary/0/_temporary/attempt_0/part-00000"),
        Array[Byte](1, 2, 3))
      assert(graft.ops.Core.pathExists(spark, tomb),
        "precondition: the torn dir exists — bare existence is the " +
          "insufficient signal under pin")
      assert(!graft.ops.Core.tableExists(spark, tomb),
        "a dir holding only uncommitted _temporary data must gate as absent")
      // commit real data WITHOUT clearing the stale _temporary (the
      // crash-then-retry sequence): the gate must flip to present
      spark.range(0, 3).select(col("id").as("doc_id"))
        .write.mode("append").parquet(tomb)
      assert(graft.ops.Core.tableExists(spark, tomb),
        "committed data must gate as present even beside stale _temporary")
      assert(spark.read.parquet(tomb).count() == 3L)
    }
  }

  test("tableExists descends non-hidden partition dirs") {
    withMockFs { root =>
      val state = s"$root/state/bands"
      // the cumulative stateDir layout: batch_id=N partition dirs
      spark.range(0, 4).select(col("id").as("doc_id"), lit(0L).as("batch_id"))
        .write.partitionBy("batch_id").mode("append").parquet(state)
      assert(graft.ops.Core.tableExists(spark, state),
        "data files under partition dirs must count as committed data")
    }
  }

  test("existence gates read a directory that vanishes mid-listing as absent") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.vanishfs.impl", classOf[VanishingListFs].getName)
    val base = java.nio.file.Files.createTempDirectory("graft_vanish").toString
    spark.range(0, 4).select(col("id").as("doc_id"), lit(0L).as("batch_id"))
      .write.partitionBy("batch_id").parquet(s"$base/state/bands")
    spark.range(0, 4).write.parquet(s"$base/state/clusters")
    val state = s"vanishfs://$base/state"
    assert(graft.ops.Core.tableExists(spark, s"$state/bands"), "precondition: committed data")
    try {
      // a partition dir deleted under the walk: that table reads as absent
      VanishingListFs.vanished = Set(s"$base/state/bands/batch_id=0")
      assert(!graft.ops.Core.tableExists(spark, s"$state/bands"))
      assert(graft.ops.Core.tablesExistUnder(spark, state, Seq("bands", "clusters")) ==
        Map("bands" -> false, "clusters" -> true))
      // the parent itself deleted after its existence check: all absent
      VanishingListFs.vanished = Set(s"$base/state")
      assert(graft.ops.Core.tablesExistUnder(spark, state, Seq("bands", "clusters")) ==
        Map("bands" -> false, "clusters" -> false))
    } finally VanishingListFs.vanished = Set.empty
  }
}
