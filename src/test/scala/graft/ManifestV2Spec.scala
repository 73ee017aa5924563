package graft

import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, Tokenize}
import graft.sources.ManifestSource

/** The DataSource V2 manifest source must be indistinguishable from the
  * input_file_name()-join assembly it replaces, and the full pipeline built
  * on it must stay golden.
  */
class ManifestV2Spec extends SparkSpec {

  private def manifest = RefCorpus("test.txt")
  private def baseDir  = RefCorpus()

  test("v2 source == v1 docLines assembly on the full reference corpus") {
    val v2 = spark.read.format("graft-manifest").load(manifest)
      .select("file_id", "line")
    val refs = ManifestSource.docRefs(spark, manifest, baseDir)
    val v1 = ManifestSource.docLines(spark, refs)
    val key = Seq("file_id", "line")
    assert(v2.count() == v1.count())
    assert(v2.exceptAll(v1).isEmpty && v1.exceptAll(v2).isEmpty,
      "v2 and v1 line sets must be multiset-identical")
  }

  test("column pruning reaches the scan") {
    val pruned = spark.read.format("graft-manifest").load(manifest).select("line")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("columns=line"), s"scan must prune to line:\n$scanDesc")
  }

  test("postings built through the v2 source match the v1 pipeline exactly") {
    val v2Postings = InvertedIndex.postings(
      Tokenize.tokens(
        spark.read.format("graft-manifest").load(manifest).select("file_id", "line"),
        textCol = "line", keep = Seq("file_id")),
      idCol = "file_id")
    val v1Postings = Engine.indexFromManifest(spark, manifest, baseDir)
    val snapV2 = v2Postings.orderBy("word").collect().map(r => (r.getString(0), r.getSeq[Long](1)))
    val snapV1 = v1Postings.orderBy("word").collect().map(r => (r.getString(0), r.getSeq[Long](1)))
    assert(snapV2.toSeq == snapV1.toSeq)
  }

  test("manifest quirks: blank lines, trailing junk, missing-path errors") {
    val d = java.nio.file.Files.createTempDirectory("graft-v2").toFile
    java.nio.file.Files.write(d.toPath.resolve("a.txt"), "alpha beta".getBytes)
    java.nio.file.Files.write(d.toPath.resolve("b.txt"), "gamma".getBytes)
    // count shares a line with the first path; blank line; trailing junk ignored
    java.nio.file.Files.write(d.toPath.resolve("m.txt"), "2 a.txt\n\nb.txt\nignored.txt".getBytes)
    val rows = spark.read.format("graft-manifest").load(s"${d.getAbsolutePath}/m.txt")
      .orderBy("file_id")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "alpha beta"), (2L, "gamma")))
  }
}
