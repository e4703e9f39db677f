package graft

import org.apache.spark.sql.DataFrame
import graft.ops.{Core, Mixture, Similarity, TextDedup}

/** The directory guards of every persisted-index merge and compaction,
  * table-driven: each family's entry point must refuse each unsafe
  * directory shape with its own message, before writing anything. */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Core.documents(spark, sf0001).limit(40)
  private def fresh(p: String) = java.nio.file.Files.createTempDirectory(p).toString
  private def exists(d: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(d))

  /** One merge entry point: its build, the merge itself, and its
    * takedown writer when the family is row-keyed. */
  private case class MergeFamily(name: String, build: String => Unit,
      merge: (Seq[String], String) => Unit, tombstone: Option[String => Unit])

  private val merges = Seq(
    MergeFamily("mergeDedupIndexes", TextDedup.writeDedupIndexFrom(docs, _),
      TextDedup.mergeDedupIndexes(spark, _, _),
      Some(d => TextDedup.writeDedupIndexTombstones(spark, Seq(1L).toDF("doc_id"), d))),
    MergeFamily("mergeSimhashIndexes", TextDedup.writeSimhashIndexFrom(docs, _),
      TextDedup.mergeSimhashIndexes(spark, _, _),
      Some(d => TextDedup.writeSimhashIndexTombstones(spark, Seq(1L).toDF("doc_id"), d))),
    MergeFamily("mergeVocabIndexes", Mixture.writeVocabIndexFrom(docs, _),
      Mixture.mergeVocabIndexes(spark, _, _), None),
    MergeFamily("mergeDriftBaselines", Mixture.writeDriftBaselineFrom(docs, _),
      Mixture.mergeDriftBaselines(spark, _, _), None))

  /** One compaction entry point: its build, the compaction, and a
    * takedown writer (a non-seed id for IVF, so the fold itself is legal). */
  private case class CompactFamily(name: String, build: String => Unit,
      compact: (String, String) => Unit, tombstone: String => Unit)

  private val compactions = Seq(
    CompactFamily("compactDedupIndex", TextDedup.writeDedupIndexFrom(docs, _),
      TextDedup.compactDedupIndex(spark, _, _),
      d => TextDedup.writeDedupIndexTombstones(spark, Seq(1L).toDF("doc_id"), d)),
    CompactFamily("compactSimhashIndex", TextDedup.writeSimhashIndexFrom(docs, _),
      TextDedup.compactSimhashIndex(spark, _, _),
      d => TextDedup.writeSimhashIndexTombstones(spark, Seq(1L).toDF("doc_id"), d)),
    CompactFamily("compactIvfIndex", Similarity.writeIvfIndex(spark, sf0001, _),
      Similarity.compactIvfIndex(spark, _, _),
      d => Similarity.writeIvfTombstones(spark, Seq(100L).toDF("vec_id"), d)))

  private def refused(family: String, shape: String, expect: String)(f: => Unit): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage.contains(expect),
      s"$family, $shape: expected '$expect', got: ${e.getMessage}")
  }

  merges.foreach { m =>
    test(s"${m.name} refuses every unsafe directory shape") {
      val root = fresh("graft_mguard")
      val (a, b) = (s"$root/a", s"$root/b")
      m.build(a); m.build(b)
      val out = s"$root/out"
      refused(m.name, "aliased output", "fresh dir")(m.merge(Seq(a, b), a))
      refused(m.name, "dot-dot output", "fresh dir")(m.merge(Seq(a, b), s"$root/x/../a"))
      refused(m.name, "output inside an input", "nests")(m.merge(Seq(a, b), s"$a/merged"))
      refused(m.name, "input inside the output", "nests")(m.merge(Seq(a, b), root))
      refused(m.name, "two aliased inputs", "alias or nest")(m.merge(Seq(a, s"$a/"), out))
      refused(m.name, "an input nested in another", "alias or nest")(
        m.merge(Seq(a, s"$a/part"), out))
      refused(m.name, "no inputs", "at least one")(m.merge(Nil, out))
      m.tombstone.foreach { t =>
        t(b)
        refused(m.name, "a tombstoned input", "resurrect")(m.merge(Seq(a, b), out))
      }
      assert(!exists(out) && !exists(s"$a/merged"), s"${m.name} wrote before refusing")
    }
  }

  compactions.foreach { c =>
    test(s"${c.name} refuses every unsafe directory shape and an index with nothing to forget") {
      val root = fresh("graft_cguard")
      val (idx, clean) = (s"$root/idx", s"$root/clean")
      c.build(idx); c.build(clean)
      refused(c.name, "nothing to forget", "nothing to forget")(c.compact(clean, s"$root/out"))
      c.tombstone(idx)
      refused(c.name, "aliased output", "fresh dir")(c.compact(idx, idx))
      refused(c.name, "dot-dot output", "fresh dir")(c.compact(idx, s"$root/x/../idx"))
      refused(c.name, "output inside the index", "nests")(c.compact(idx, s"$idx/v2"))
      refused(c.name, "index inside the output", "nests")(c.compact(idx, root))
      assert(!exists(s"$root/out") && !exists(s"$idx/v2"), s"${c.name} wrote before refusing")
      c.compact(idx, s"$root/out") // the guards pass a fresh sibling dir
      assert(exists(s"$root/out"))
    }
  }
}
