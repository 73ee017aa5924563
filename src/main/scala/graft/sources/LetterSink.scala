package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.InvertedIndex

/** Letter-file sink matching the reference byte-for-byte (O11,
  * reference src/main.cpp:298-320): 26 files `a.txt`…`z.txt`, line format
  * `word:[id1 id2 ... idN]` (no space after ':', ids space-separated,
  * 1-based, ascending), lines ordered df DESC then word ASC, and EMPTY
  * buckets still emit an (empty) file.
  *
  * Both writers share one plan, the reference's per-letter sort
  * ([[InvertedIndex.rankedWithinLetters]]: a hash exchange on `letter`, then
  * a sort on (letter, df DESC, word ASC) inside each partition), and differ
  * only in who writes:
  *  - `writeExact`: the driver collects the `(letter, line)` rows and writes
  *    the 26 files — mirrors the reference's deliberately sequential final
  *    write (README.md:125-133) and produces the exact filenames the golden
  *    checker diffs. The collect is bounded by the index size, not the
  *    corpus size.
  *  - `writePartitioned`: the executors write `letter=*` text dirs in
  *    parallel, for at-scale use where exact filenames don't matter.
  *
  * Each letter is its own file, so no order is needed across letters: there
  * is no global range sort, whose sampling job would run the upstream
  * aggregate (or merge join) a second time.
  */
object LetterSink {

  private val Letters = ('a' to 'z').map(_.toString)

  /** `(letter, line)` rows of `postings` in per-letter reference order. */
  private def ranked(postings: DataFrame): DataFrame =
    InvertedIndex.rankedWithinLetters(postings).select(
      col("letter"),
      concat(col("word"), lit(":["), array_join(col("doc_ids"), " "), lit("]")).as("line"))

  /** Driver-side exact sink: returns the 26 output paths. A word whose
    * first letter is outside `a`…`z` has no file, so it raises
    * IllegalArgumentException before any file is written.
    */
  def writeExact(postings: DataFrame, outDir: String): Seq[String] = {
    // a letter lands in one partition and leads the sort, so its lines come
    // back contiguous and in order; collect keeps partition order
    val byLetter = ranked(postings).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1))).toMap
    (byLetter.keySet -- Letters).headOption.foreach { bad =>
      val word = Option(byLetter(bad).head).fold("null")(l => s"'${l.substring(0, l.lastIndexOf(":["))}'")
      throw new IllegalArgumentException(s"word $word does not start with a letter a-z: no letter file holds it")
    }
    val out = Files.createDirectories(Paths.get(outDir))
    Letters.map { l =>
      // an empty bucket still emits a file (x.txt is empty in the golden output)
      val body = byLetter.get(l).fold("")(_.mkString("", "\n", "\n"))
      Files.write(out.resolve(s"$l.txt"), body.getBytes(StandardCharsets.UTF_8)).toString
    }
  }

  /** Incremental maintenance of an ON-DISK letter index: read the existing
    * `a.txt`…`z.txt` snapshot back through the `graft-letters` DSv2 reader,
    * array-union the delta's postings per word ([[InvertedIndex.mergeIndexes]]),
    * and write the merged result to `outDir` as a NEW snapshot — the input
    * dir is never touched (immutable-snapshot semantics: readers of the old
    * index keep a consistent view while the merge runs, exactly how an
    * at-scale index rolls versions). Completes the format's lifecycle:
    * build → write → read → query → MAINTAIN, in the reference's own format.
    *
    * Returns the 26 output paths.
    */
  def mergeExact(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      delta: DataFrame,
      outDir: String): Seq[String] = {
    val existing = spark.read.format("graft-letters").load(indexDir)
      .select(col("word"), col("doc_ids"))
    writeExact(InvertedIndex.mergeIndexes(existing, delta), outDir)
  }

  /** Distributed sink: dir-per-letter text write (`letter=a/part-*.txt`).
    *
    * The per-letter sort leads with `letter` deliberately: the dynamic
    * partitioned write requires rows clustered by the partition column,
    * and when the child ordering doesn't already provide that, the
    * planner inserts its OWN sort on `letter` alone — which is not
    * guaranteed stable, so the (df DESC, word ASC) line order inside
    * each letter could be scrambled. With `letter` leading, no extra sort
    * is planned, and each letter's file carries the exact reference line
    * order — pinned byte-equal to [[writeExact]] by LetterSinkSpec.
    */
  def writePartitioned(postings: DataFrame, outDir: String): Unit =
    ranked(postings).write.mode("overwrite").partitionBy("letter").text(outDir)

  /** Distributed twin of [[mergeExact]]: the same immutable-snapshot merge,
    * written through [[writePartitioned]]'s parallel letter-partitioned sink
    * instead of the driver-side exact files. The input dir is never
    * touched, so readers of the old snapshot keep a consistent view while
    * the merge runs; at 100 TB this is the shape an index roll actually
    * takes (distributed read → one word-keyed full-outer join shuffle →
    * distributed partitioned write; nothing index-sized ever visits the
    * driver). Per-letter content is pinned byte-equal to [[mergeExact]] by
    * LetterSinkSpec.
    */
  def mergePartitioned(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      delta: DataFrame,
      outDir: String): Unit = {
    val existing = spark.read.format("graft-letters").load(indexDir)
      .select(col("word"), col("doc_ids"))
    writePartitioned(InvertedIndex.mergeIndexes(existing, delta), outDir)
  }
}
