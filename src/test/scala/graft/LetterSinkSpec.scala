package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, Tokenize}
import graft.sources.LetterSink

/** The letter sink: the exact files must not depend on the session's shuffle
  * width or AQE, must equal an in-memory model of the reference's per-letter
  * sort, and must match the distributed letter-partitioned layout (which
  * supports partition pruning on read) byte for byte.
  */
class LetterSinkSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def tmp(tag: String): String = Files.createTempDirectory(s"graft-sink-$tag").toString

  /** The 26 files `a.txt`…`z.txt` of an exact snapshot, in letter order. */
  private def exactFiles(dir: String): Seq[String] =
    ('a' to 'z').map(ch => new String(Files.readAllBytes(Paths.get(dir, s"$ch.txt")), UTF_8))

  /** Runs `body` with the given session confs set, restoring the old values after. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach { case (k, old) => old.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def partitions(n: Int) = "spark.sql.shuffle.partitions" -> n.toString

  test("writeExact files are the same under every shuffle width and AQE setting, and equal the model") {
    // model: the collected postings sorted by (first letter, df DESC, word ASC)
    val rows = Engine.indexFromTable(docs).select("word", "doc_ids").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1))
    val model = ('a' to 'z').map { ch =>
      rows.filter(_._1.head == ch).sortBy { case (w, ids) => (-ids.size, w) }
        .map { case (w, ids) => s"$w:[${ids.mkString(" ")}]\n" }.mkString
    }
    assert(model.count(_.nonEmpty) > 15, "the sf0.001 corpus should fill most letters")
    for (n <- Seq(1, 7, 32); aqe <- Seq(true, false)) {
      val dir = tmp(s"inv-$n-$aqe")
      withConfs(partitions(n), "spark.sql.adaptive.enabled" -> aqe.toString) {
        LetterSink.writeExact(Engine.indexFromTable(docs), dir)
      }
      exactFiles(dir).zip(model).zip('a' to 'z').foreach { case ((got, want), ch) =>
        assert(got == want, s"$ch.txt differs from the model at shuffle.partitions=$n, AQE=$aqe")
      }
    }
  }

  test("mergeExact of the odd-doc half into the even-doc half: same bytes at 1 and 32 partitions, == full build") {
    val baseDir = tmp("even")
    val fullDir = tmp("full")
    LetterSink.writeExact(Engine.indexFromTable(docs.where(col("doc_id") % 2 === 0)), baseDir)
    LetterSink.writeExact(Engine.indexFromTable(docs), fullDir)
    val merged = Seq(1, 32).map { n =>
      val dir = tmp(s"merge-$n")
      withConfs(partitions(n)) {
        LetterSink.mergeExact(spark, baseDir, Engine.indexFromTable(docs.where(col("doc_id") % 2 =!= 0)), dir)
      }
      exactFiles(dir)
    }
    assert(merged(0) == merged(1), "merged snapshot depends on the shuffle width")
    assert(merged(0) == exactFiles(fullDir), "merge(index(even), index(odd)) != index(all)")
  }

  test("writePartitioned content == writeExact bytes per letter, on the sf0.001 documents") {
    val postings = Engine.indexFromTable(docs)
    val exactDir = tmp("parity-exact")
    val partDir  = tmp("parity-part")
    LetterSink.writeExact(postings, exactDir)
    LetterSink.writePartitioned(postings, partDir)
    exactFiles(exactDir).zip('a' to 'z').foreach { case (exact, ch) =>
      assert(partBytes(partDir, ch) == exact, s"letter '$ch' distributed bytes != exact bytes")
    }
  }

  test("a word outside a-z raises in writeExact and in mergeExact's delta instead of being dropped") {
    import spark.implicits._
    val baseDir = tmp("guard-base")
    LetterSink.writeExact(
      InvertedIndex.postings(Seq((1L, "apple"), (2L, "apple"), (2L, "berry")).toDF("doc_id", "word")), baseDir)
    for (bad <- Seq("Zeta", "9lives")) {
      val postings = InvertedIndex.postings(Seq((1L, "apple"), (3L, bad)).toDF("doc_id", "word"))
      val dir = tmp("guard-exact")
      val e = intercept[IllegalArgumentException](LetterSink.writeExact(postings, dir))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
      assert(new java.io.File(dir).list().isEmpty, "no letter file may be written before the guard raises")
      val m = intercept[IllegalArgumentException](LetterSink.mergeExact(spark, baseDir, postings, tmp("guard-merge")))
      assert(m.getMessage.contains(s"'$bad'"), m.getMessage)
    }
  }

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
