package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, Tokenize}
import graft.sources.LetterSink

/** The distributed letter sink must produce a letter-partitioned layout that
  * supports partition pruning on read — the at-scale path where exact
  * filenames stop mattering and parallel IO + pruning start mattering.
  */
class LetterSinkSpec extends SparkSpec {

  test("writePartitioned emits letter=* dirs and reads back with partition pruning") {
    val postings = InvertedIndex.postings(
      Tokenize.tokens(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "text", Seq("doc_id")))
    val out = Files.createTempDirectory("graft-partsink").toString
    LetterSink.writePartitioned(postings, out)

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("letter=")))

    val back = spark.read.text(out) // partition column `letter` inferred from layout
    val one  = back.where(col("letter") === "s")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("letter"),
      s"expected letter partition pruning in:\n$plan")
    // pruned read returns exactly the s-bucket lines, formatted word:[ids]
    val lines = one.select("value").collect().map(_.getString(0))
    assert(lines.nonEmpty && lines.forall(_.matches("[a-z]+:\\[[0-9 ]+\\]")))
    assert(lines.forall(_.startsWith("s")))
  }

  test("writePartitioned content == writeExact bytes per letter, on both golden corpora") {
    // the cluster-scale write path inherits the golden guarantee: for each
    // letter, the concatenated part files (filename order) must be BYTE
    // EQUAL to writeExact's <letter>.txt — same lines, same (df DESC, word
    // ASC) order, same trailing newline; a letter with no postings has no
    // letter= dir and writeExact's file is empty
    for ((manifest, tag) <- Seq("test_small.txt" -> "small", "test.txt" -> "large")) {
      val postings = Engine.indexFromManifest(spark, RefCorpus(manifest), RefCorpus())
      val exactDir = Files.createTempDirectory(s"graft-parity-exact-$tag").toString
      val partDir  = Files.createTempDirectory(s"graft-parity-part-$tag").toString
      LetterSink.writeExact(postings, exactDir)
      LetterSink.writePartitioned(postings, partDir)
      ('a' to 'z').foreach { ch =>
        val exact = new String(
          Files.readAllBytes(java.nio.file.Paths.get(exactDir, s"$ch.txt")), "UTF-8")
        val d = new java.io.File(partDir, s"letter=$ch")
        val part =
          if (!d.isDirectory) ""
          else d.listFiles()
            .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
            .sortBy(_.getName)
            .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
            .mkString
        assert(part == exact, s"$tag: letter '$ch' distributed bytes != exact bytes")
      }
    }
  }

  /** Concatenated part-file bytes for one letter of a partitioned snapshot. */
  private def partBytes(dir: String, ch: Char): String = {
    val d = new java.io.File(dir, s"letter=$ch")
    if (!d.isDirectory) ""
    else d.listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName)
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
      .mkString
  }

  test("mergePartitioned == mergeExact per letter, snapshots immutable, on both golden corpora") {
    for ((manifest, tag) <- Seq("test_small.txt" -> "small", "test.txt" -> "large")) {
      // base snapshot: the golden corpus index, written exact (the DSv2
      // reader consumes the reference's own a.txt..z.txt format)
      val postings = Engine.indexFromManifest(spark, RefCorpus(manifest), RefCorpus())
      val baseDir = Files.createTempDirectory(s"graft-merge-base-$tag").toString
      LetterSink.writeExact(postings, baseDir)
      val baseSnapshot = ('a' to 'z').map { ch =>
        ch -> new String(
          Files.readAllBytes(java.nio.file.Paths.get(baseDir, s"$ch.txt")), "UTF-8")
      }.toMap
      // delta: a small synthetic batch with one overlapping and one new word
      import spark.implicits._
      val delta = InvertedIndex.postings(
        Tokenize.tokens(
          Seq((90001L, "the zebra quibbles"), (90002L, "zebra zebra alike"))
            .toDF("doc_id", "text"),
          "text", Seq("doc_id")))
      val exactDir = Files.createTempDirectory(s"graft-merge-exact-$tag").toString
      val partDir  = Files.createTempDirectory(s"graft-merge-part-$tag").toString
      LetterSink.mergeExact(spark, baseDir, delta, exactDir)
      LetterSink.mergePartitioned(spark, baseDir, delta, partDir)
      ('a' to 'z').foreach { ch =>
        val exact = new String(
          Files.readAllBytes(java.nio.file.Paths.get(exactDir, s"$ch.txt")), "UTF-8")
        assert(partBytes(partDir, ch) == exact,
          s"$tag: letter '$ch' merged distributed bytes != merged exact bytes")
      }
      // the merge really merged (the delta's words are in the z/q buckets)
      assert(partBytes(partDir, 'z').contains("zebra:["),
        s"$tag: merged snapshot must contain the delta's new word")
      // snapshot immutability: the input dir's bytes are untouched
      ('a' to 'z').foreach { ch =>
        val now = new String(
          Files.readAllBytes(java.nio.file.Paths.get(baseDir, s"$ch.txt")), "UTF-8")
        assert(now == baseSnapshot(ch), s"$tag: merge mutated the input snapshot ($ch.txt)")
      }
    }
  }
}
