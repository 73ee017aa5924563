package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, Search, Tokenize}

/** [[Search.andQueryFromIndex]] / [[Search.orQueryFromIndex]]: boolean
  * retrieval served from the ON-DISK letter index (the reference's
  * a.txt…z.txt output format) must equal the live-postings queries, the
  * letter and word pruning must happen at planning time, and the served
  * plan must run without an exchange.
  */
class IndexServeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val postings =
    InvertedIndex.postings(
      Tokenize.tokens(spark.read.parquet(s"$dir/documents.parquet"), "text", Seq("doc_id")))

  private lazy val indexDir: String = {
    val out = Files.createTempDirectory("graft-idx-serve-spec").toString
    graft.sources.LetterSink.writeExact(postings, out)
    out
  }

  private def letters(path: String) = spark.read.format("graft-letters").load(path)

  /** Term lists the served queries must answer exactly like the live ones:
    * raw forms the tokenizer cleans, duplicates, an absent word, a term
    * that cleans to nothing, two terms sharing a first letter, one term.
    */
  private val termLists = Seq(
    Seq("spark", "query", "join"),
    Seq("vector", "stream", "merge"),
    Seq("Spark,", "QUERY"),
    Seq("spark", "spark", "join"),
    Seq("spark", "zzzqxj"),
    Seq("spark", "123!?", "join"),
    Seq("stream", "spark"),
    Seq("vector"))

  private def docIds(df: DataFrame) = df.collect().map(_.getLong(0)).toSeq
  private def docHits(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("index-served AND == live-postings AND") {
    val served = docIds(Search.andQueryFromIndex(spark, indexDir, Seq("spark", "query", "join")))
    assert(served.nonEmpty, "AND query must match at least one doc at sf0.001")
    termLists.foreach { words =>
      assert(docIds(Search.andQueryFromIndex(spark, indexDir, words)) ==
        docIds(Search.andQuery(postings, words)), s"AND $words")
    }
  }

  test("index-served OR == live-postings OR") {
    termLists.foreach { words =>
      val served = docHits(Search.orQueryFromIndex(spark, indexDir, words))
      assert(served.nonEmpty, s"OR $words must match at least one doc at sf0.001")
      assert(served == docHits(Search.orQuery(postings, words)), s"OR $words")
    }
  }

  test("served queries plan as one stage: no exchange") {
    val words = Seq("spark", "query", "join")
    for (q <- Seq(Search.andQueryFromIndex(spark, indexDir, words),
                  Search.orQueryFromIndex(spark, indexDir, words))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"served query must not shuffle:\n$plan")
      assert(plan.contains("words={join,query,spark}"), s"word IN must reach the scan:\n$plan")
    }
  }

  test("on-disk merge snapshot is byte-identical to the directly-built index") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val full = Files.createTempDirectory("graft-merge-full").toString
    val base = Files.createTempDirectory("graft-merge-base").toString
    val snap = Files.createTempDirectory("graft-merge-snap").toString
    graft.sources.LetterSink.writeExact(Engine.indexFromTable(docs), full)
    graft.sources.LetterSink.writeExact(
      Engine.indexFromTable(docs.where(col("doc_id") % 2 === 0)), base)
    graft.sources.LetterSink.mergeExact(
      spark, base, Engine.indexFromTable(docs.where(col("doc_id") % 2 === 1)), snap)
    ('a' to 'z').foreach { ch =>
      val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(full, s"$ch.txt"))
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(snap, s"$ch.txt"))
      assert(java.util.Arrays.equals(a, b),
        s"$ch.txt: merged snapshot must be byte-identical to the direct build")
    }
  }

  test("query letters prune the scan at planning time") {
    val plan = Search.andQueryFromIndex(spark, indexDir, Seq("spark", "query", "join"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("letters={j,q,s}"),
      s"scan must open only the query terms' letter files:\n$plan")
  }

  test("word pushdown == the unfiltered read filtered afterwards") {
    val all = letters(indexDir).collect().toSeq
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(r => (r.getString(0), r.getInt(1)))
    def expect(keep: org.apache.spark.sql.Row => Boolean) =
      all.filter(keep).sortBy(r => (r.getString(0), r.getInt(1)))

    val in = letters(indexDir).where(col("word").isin("spark", "join", "stream", "zzzqxj"))
    assert(rows(in) == expect(r => Set("spark", "join", "stream", "zzzqxj")(r.getString(2))))
    assert(rows(in).size == 3, "three of the four words are indexed at sf0.001")
    val plan = in.queryExecution.executedPlan.toString
    assert(plan.contains("letters={j,s,z}") && plan.contains("words={join,spark,stream,zzzqxj}"),
      s"scan must show the pushed words and the letters they name:\n$plan")
    assert(!plan.contains("Filter "), s"a pushed word predicate leaves no residual:\n$plan")

    val eq = letters(indexDir).where(col("word") === "vector")
    assert(rows(eq) == expect(_.getString(2) == "vector") && rows(eq).size == 1)
    assert(eq.queryExecution.executedPlan.toString.contains("letters={v}"))

    // word and letter predicates intersect; ranks stay line positions
    val both = letters(indexDir)
      .where(col("word").isin("spark", "join") && col("letter") === "s")
    assert(rows(both) == expect(r => r.getString(2) == "spark"))
    assert(both.queryExecution.executedPlan.toString.contains("letters={s}"))

    // a pushed limit counts kept rows, not lines passed over
    val deep = all.filter(r => r.getString(0) == "s" && r.getInt(1) > 3).map(_.getString(2)).take(2)
    assert(deep.size == 2, "s.txt must have at least five lines at sf0.001")
    val limited = letters(indexDir).where(col("word").isin(deep: _*)).limit(2)
    assert(limited.queryExecution.executedPlan.toString.contains("limit=2"))
    assert(limited.collect().map(_.getString(2)).toSet == deep.toSet)
  }

  test("a malformed line fails a word-filtered scan even when the filter skips it") {
    val broken = Files.createTempDirectory("graft-idx-broken").toString
    ('a' to 'z').foreach { ch =>
      Files.copy(Paths.get(indexDir, s"$ch.txt"), Paths.get(broken, s"$ch.txt"))
    }
    val s = Paths.get(broken, "s.txt")
    val lines = Files.readAllLines(s).asScala.toSeq
    val target = lines.last.takeWhile(_ != ':')
    assert(lines.size > 1 && lines.head.takeWhile(_ != ':') != target)
    // the damage sits on the first line, which the word filter skips
    for (damaged <- Seq(lines.head.dropRight(1), "no colon here", ":[1 2]")) {
      Files.write(s, (damaged +: lines.tail).asJava)
      val e = intercept[Exception] {
        letters(broken).where(col("word") === target).collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("malformed index line")),
        s"damaged line '$damaged' must fail the scan: $e")
    }
    Files.write(s, lines.asJava)
    assert(letters(broken).where(col("word") === target).count() == 1)
  }
}
