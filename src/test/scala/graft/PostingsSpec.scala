package graft

import graft.operators.{InvertedIndex, Tokenize}

/** FIXTURES.md §6 property invariants over real postings (both the parquet
  * documents table and the reference corpus).
  */
class PostingsSpec extends SparkSpec {

  private def checkInvariants(postings: org.apache.spark.sql.DataFrame, maxId: Long): Unit = {
    val rows = postings.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val word   = r.getString(r.fieldIndex("word"))
      val ids    = r.getSeq[Long](r.fieldIndex("doc_ids"))
      val df     = r.getInt(r.fieldIndex("df"))
      val letter = r.getString(r.fieldIndex("letter"))
      assert(word.matches("[a-z]+"), s"word not clean: $word")
      assert(letter == word.substring(0, 1), s"letter mismatch: $word/$letter")
      assert(df == ids.size, s"df != |ids| for $word")
      assert(ids == ids.sorted && ids.distinct == ids, s"ids not sorted-distinct for $word")
      assert(ids.forall(id => id >= 0 && id <= maxId), s"id out of range for $word")
    }
  }

  test("postings invariants hold on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    checkInvariants(Engine.indexFromTable(docs), maxId = 499L)
  }

  test("postings invariants hold on the reference corpus (1-based manifest ids)") {
    val postings = Engine.indexFromManifest(spark, RefCorpus("test_small.txt"), RefCorpus())
    val rows = postings.collect()
    val allIds = rows.flatMap(_.getSeq[Long](rows.head.fieldIndex("doc_ids")))
    assert(allIds.min >= 1L && allIds.max <= 3L) // 3 docs, ids 1-based
    checkInvariants(postings, maxId = 3L)
  }

  test("sharded postings (hot-key-safe path) equal plain postings exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val toks = Tokenize.tokens(docs, "text", Seq("doc_id"))
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("word", "doc_ids", "df", "letter")
      .orderBy("word")
      .collect()
      .map(r => (r.getString(0), r.getSeq[Long](1), r.getInt(2), r.getString(3)))
      .toSeq
    // shardWidth 100 over 500 docs -> 5 shards, so reassembly is exercised
    assert(snap(InvertedIndex.postingsSharded(toks, shardWidth = 100L)) ==
      snap(InvertedIndex.postings(toks)))
  }

  test("pipeline is deterministic: two runs produce identical postings") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def snapshot() = Engine
      .indexFromTable(docs)
      .orderBy("word")
      .collect()
      .map(r => (r.getString(0), r.getSeq[Long](1)))
      .toSeq
    assert(snapshot() == snapshot())
  }

  test("frontCodingStats: hand-computed LCP chain and the singleton letter") {
    import spark.implicits._
    // sorted chain inter → internal → internet: LCPs 5 then 6
    // raw = 5+8+8 = 21, coded = 6+4+3 = 13 → ratio 0.619
    val vocab = Seq("inter", "internal", "internet", "b").toDF("word")
    val got = InvertedIndex.frontCodingStats(vocab)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got("i") == (3L, 21L, 13L, 0.619), s"got $got")
    // a chain of one: no prefix to share, 1 byte overhead
    assert(got("b") == (1L, 1L, 2L, 2.0), s"got $got")
  }

  test("frontCodingStats: coded bytes never exceed raw + one byte per word") {
    import spark.implicits._
    val vocab = Tokenize
      .tokens(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        "text", Seq("doc_id"))
    val rows = InvertedIndex.frontCodingStats(vocab).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, raw, coded) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(coded <= raw + n, s"letter ${r.getString(0)}: $coded > $raw + $n")
      assert(coded >= n, "every word keeps at least its length byte")
    }
  }
}
