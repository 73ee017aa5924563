package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** [[graft.sources.LetterIndexDataSource]]: the golden letter files read
  * back as a table — content parity with the raw files, letter pruning at
  * planning time, column pruning at the scan. Pruning needs only some
  * index, so it reads one written from a few in-memory documents.
  */
class LetterIndexReadSpec extends SparkSpec {

  private def goldenDir = RefCorpus("test_out")

  private def golden = spark.read.format("graft-letters").load(goldenDir)

  // every doc holds "the", "talks" and the q-words; "to"/"town" only the
  // even ones, so letter t has lines on both sides of df >= 5
  private lazy val tableIndex = {
    import spark.implicits._
    val docs = (1L to 6L).map { id =>
      (id, s"The quick queen talks ${if (id % 2 == 0) "to the quiet town" else "alone"}")
    }.toDF("doc_id", "text")
    val out = Files.createTempDirectory("graft-letters-table").toString
    graft.sources.LetterSink.writeExact(Engine.indexFromTable(docs), out)
    spark.read.format("graft-letters").load(out)
  }

  test("reading the reference's own golden output: every line, parsed faithfully") {
    val lineCount = ('a' to 'z').map { ch =>
      val p = Paths.get(goldenDir, s"$ch.txt")
      if (Files.exists(p)) Files.readAllLines(p).asScala.count(_.nonEmpty) else 0
    }.sum
    val rows = golden.collect()
    assert(rows.length == lineCount, s"one row per golden line ($lineCount)")
    // spot parity: the first line of a.txt is rank 1 with the exact ids
    val aFirst = Files.readAllLines(Paths.get(goldenDir, "a.txt")).get(0)
    val word   = aFirst.takeWhile(_ != ':')
    val ids    = aFirst.dropWhile(_ != '[').drop(1).takeWhile(_ != ']')
      .split(' ').filter(_.nonEmpty).map(_.toLong).toSeq
    val got = golden.where(col("letter") === "a" && col("rank") === 1).collect().head
    assert(got.getString(2) == word && got.getSeq[Long](3) == ids && got.getInt(4) == ids.length,
      s"a.txt rank-1 parity: $got vs $aFirst")
    // df is always the posting-list length, rank is dense 1..n per letter
    assert(rows.forall(r => r.getInt(4) == r.getSeq[Long](3).length))
    val byLetter = rows.groupBy(_.getString(0))
    byLetter.foreach { case (l, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length).toSeq, s"dense ranks in $l")
    }
  }

  test("letter pushdown prunes files at planning time; residual filters survive") {
    val one = tableIndex.where(col("letter") === "q")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("letters={q}"), s"scan must advertise the pruned letter set:\n$plan")
    val qs = one.collect()
    assert(qs.nonEmpty && qs.forall(_.getString(0) == "q"))
    // IN lists intersect with equality (conjunction), empty intersection reads nothing
    val none = tableIndex.where(col("letter").isin("a", "b") && col("letter") === "c")
    assert(none.collect().isEmpty)
    assert(none.queryExecution.executedPlan.toString.contains("letters={}"),
      "contradictory letter predicates must prune everything at planning time")
    // non-letter predicates are NOT consumed: df filter still evaluated
    val hot = tableIndex.where(col("letter") === "t" && col("df") >= 5).collect()
    assert(hot.map(_.getString(2)).toSet == Set("the", "talks") &&
      hot.forall(r => r.getString(0) == "t" && r.getInt(4) >= 5))
  }

  test("limit pushdown stops the file parse at the top-n impact-ordered lines") {
    val top = golden.where(col("letter") === "q").limit(3)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("limit=3"), s"scan must advertise the pushed limit:\n$plan")
    // q.txt is a single partition, so the limit is deterministic: exactly
    // the first 3 lines in the sink's (df DESC, word ASC) serving order
    val got = top.orderBy("rank").collect().map(r => (r.getInt(1), r.getString(2)))
    val want = Files.readAllLines(Paths.get(goldenDir, "q.txt")).asScala
      .take(3).zipWithIndex.map { case (l, i) => (i + 1, l.takeWhile(_ != ':')) }
    assert(got.toSeq == want.toSeq)
  }

  test("column pruning skips the posting parse; sink roundtrip is lossless") {
    val wordsOnly = golden.select("word")
    assert(wordsOnly.queryExecution.executedPlan.toString.contains("columns=word"),
      "required-column pushdown must reach the scan")
    assert(wordsOnly.count() == golden.count())
    // roundtrip: engine postings -> writeExact -> DSv2 read == original relation
    val out = Files.createTempDirectory("graft-letters-rt").toString
    val postings = Engine.indexFromManifest(spark, RefCorpus("test_small.txt"), RefCorpus())
    graft.sources.LetterSink.writeExact(postings, out)
    val back = spark.read.format("graft-letters").load(out)
      .select(col("word"), col("doc_ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val orig = postings
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(back == orig, "writeExact -> graft-letters roundtrip must be lossless")
  }
}
