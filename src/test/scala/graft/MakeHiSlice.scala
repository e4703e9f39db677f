package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Builds the synthesized "hi slice" testdata dir (r8 verdict #2): a
  * copy of an sf dir whose `embeddings` table is unioned with
  * vec_id-shifted copies of itself, pushing the corpus count past the
  * 8192-vector cutoff so [[graft.ops.Similarity.ndHiRows]] picks the
  * 16x3 tier — and the count-gated 16x3 branch of the DuckDB oracle
  * fires with rows. Usage:
  *
  *   Test/runMain graft.MakeHiSlice [srcDir] [outDir] [copies]
  *
  * Defaults: /root/testdata/sf0.1 -> /tmp/sfhi with 5 copies
  * (5 x 2000 = 10,000 vectors, inside the 16x3 window
  * (8192, 11585]). Every other table is byte-copied, so the full
  * Verify + parity pipeline runs unchanged against the slice:
  *
  *   runMain graft.Verify /tmp/sfhi /tmp/verify_hi \
  *     embed_near_dup_hirecall embed_dedup_clusters_hirecall
  *   python tools/parity.py /tmp/sfhi /tmp/verify_hi
  *
  * The shifted copies are exact duplicates under new ids — every
  * (original, copy) pair has cosine 1.0, which lands well above the
  * 0.4 near-dup threshold, so the tier-2 output is dominated by
  * known-true pairs while still exercising the full banded plan and
  * its oracle branch bit-for-bit. Committed run: TEST_r09_hislice.txt. */
object MakeHiSlice {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/sfhi"
    val copies = if (args.length > 2) args(2).toInt else 5

    val spark = SparkEntry.toolSession("ERROR")

    Files.createDirectories(Paths.get(outDir))
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents")
    tables.foreach { t =>
      Files.copy(Paths.get(s"$srcDir/$t.parquet"), Paths.get(s"$outDir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val base = emb.count()
    val unioned = (0 until copies).map { i =>
      emb.select((col("vec_id") + lit(i * base)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionAll _)
    // DuckDB (the oracle side) reads a single file path, not a
    // directory, so collapse to one part file and move it into place
    val tmp = Files.createTempDirectory("graft_hislice")
    unioned.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst.get
      finally listing.close()
    Files.move(part, Paths.get(s"$outDir/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // sweep the staging dir (_SUCCESS/.crc leftovers) — no /tmp litter
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(tmp)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()

    val n = spark.read.parquet(s"$outDir/embeddings.parquet").count()
    val (bands, rows) = ops.Similarity.ndHiPick(n)
    println(s"[hislice] $outDir embeddings n=$n -> tier ${bands}x$rows")
    spark.stop()
  }
}
