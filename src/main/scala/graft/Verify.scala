package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing args restrict the dump to named queries (the
    // driver passes exactly two, so its full-dump behavior is
    // unchanged; the subset form serves local checks like the
    // MakeHiSlice 16x3-tier parity run)
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    // fail fast on a typo'd name: a silently-empty filter would write a
    // zero-query dump that parity.py reports as a PASSING run (0 ok, 0
    // fail) — a verification that verified nothing
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = SparkEntry.toolSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // end-of-run cache hygiene (r14, VERDICT r13 #6's done-criterion):
    // the sidecar build thunks release their barrier caches themselves
    // (spec-asserted via storageLevel), but lazily-evaluated registered
    // queries legitimately leave their bounded one-per-corpus sketch
    // caches live after their dump — a batch driver that has written
    // every result owns its session teardown, so drop them all and say
    // so, leaving the JVM cache-clean for whatever runs next
    spark.catalog.clearCache()
    System.err.println("[verify] caches cleared at end of run")
    spark.stop()
  }
}
