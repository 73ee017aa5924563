package indexbench

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Sequential in-memory model of the reference program, written from
  * FIXTURES.md alone and sharing no code with the engine:
  *
  *  - manifest: first whitespace token N, then N paths; line position is
  *    the 1-based document id (§1);
  *  - tokenizer: split on ASCII whitespace, lowercase A-Z byte-wise, delete
  *    every byte outside a-z, drop empties (§4);
  *  - postings: distinct ids per word, ascending (§4, §6);
  *  - output: `a.txt`…`z.txt`, lines `word:[id id ...]` ordered by
  *    (df DESC, word ASC), empty buckets still written (§3).
  *
  * `postings` maps each word to its ascending ids.
  */
final class Model(val postings: collection.Map[String, Array[Long]], val docs: Long, val tokens: Long) {

  def words: Int = postings.size
  def pairs: Long = postings.valuesIterator.map(_.length.toLong).sum

  /** The 26 letter files, byte for byte. */
  lazy val files: IndexedSeq[Array[Byte]] = {
    val byLetter = Array.fill(26)(mutable.ArrayBuffer.empty[(String, Array[Long])])
    postings.foreach(e => byLetter(e._1.charAt(0) - 'a') += e)
    byLetter.toIndexedSeq.map { entries =>
      val sorted = entries.toArray
      java.util.Arrays.sort(sorted, Model.Ranking)
      val sb = new java.lang.StringBuilder()
      sorted.foreach { case (w, ids) =>
        sb.append(w).append(":[")
        var i = 0
        while (i < ids.length) { if (i > 0) sb.append(' '); sb.append(ids(i)); i += 1 }
        sb.append("]\n")
      }
      sb.toString.getBytes(US_ASCII)
    }
  }

  /** Ascending ids of documents holding every cleaned term. */
  def and(terms: Seq[String]): Seq[Long] = {
    val ts = Model.cleanTerms(terms)
    val lists = ts.map(t => postings.getOrElse(t, Array.empty[Long]).toSet)
    if (lists.isEmpty) Seq.empty else lists.reduce(_ intersect _).toSeq.sorted
  }

  /** (doc id, matched term count), ordered by count DESC then id ASC. */
  def or(terms: Seq[String]): Seq[(Long, Long)] = {
    val counts = mutable.HashMap.empty[Long, Long]
    Model.cleanTerms(terms).foreach { t =>
      postings.getOrElse(t, Array.empty[Long]).foreach(id => counts(id) = counts.getOrElse(id, 0L) + 1)
    }
    counts.toSeq.sortBy { case (id, n) => (-n, id) }
  }

  /** This index with `delta` added, the delta's ids shifted by `offset`
    * past every id of this index.
    */
  def merged(delta: Model, offset: Long): Model = {
    require(offset >= docs, s"delta ids must follow the index's (offset $offset < $docs docs)")
    val out = mutable.HashMap.empty[String, Array[Long]] ++= postings
    delta.postings.foreach { case (w, ids) =>
      val shifted = ids.map(_ + offset)
      out(w) = out.get(w).fold(shifted)(_ ++ shifted)
    }
    new Model(out, docs + delta.docs, tokens + delta.tokens)
  }

  /** First difference between the 26 files under `dir` and the model, if any. */
  def diff(dir: Path): Option[String] =
    ('a' to 'z').iterator.zip(files.iterator).flatMap { case (ch, want) =>
      val f = dir.resolve(s"$ch.txt")
      if (!Files.isRegularFile(f)) Some(s"$ch.txt missing")
      else {
        val got = Files.readAllBytes(f)
        if (java.util.Arrays.equals(got, want)) None
        else {
          val g = new String(got, UTF_8).split("\n", -1)
          val w = new String(want, US_ASCII).split("\n", -1)
          val i = g.indices.find(i => i >= w.length || g(i) != w(i)).getOrElse(g.length)
          def line(a: Array[String]) = if (i < a.length) a(i).take(120) else "<eof>"
          Some(s"$ch.txt line ${i + 1}: got '${line(g)}', want '${line(w)}'")
        }
      }
    }.nextOption()
}

object Model {

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == 0x0b || b == 0x0c

  /** The reference tokenizer on one raw token's bytes. */
  def clean(raw: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(raw.length)
    raw.foreach { b0 =>
      val b = if (b0 >= 'A' && b0 <= 'Z') (b0 + 32).toByte else b0
      if (b >= 'a' && b <= 'z') sb.append(b.toChar)
    }
    sb.toString
  }

  def cleanTerms(terms: Seq[String]): Seq[String] =
    terms.map(t => clean(t.getBytes(UTF_8))).filter(_.nonEmpty).distinct

  /** Raw whitespace-separated tokens of a byte buffer. */
  def rawTokens(bytes: Array[Byte]): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private var i = 0
    private def skip(): Unit = while (i < bytes.length && isSpace(bytes(i))) i += 1
    skip()
    def hasNext: Boolean = i < bytes.length
    def next(): Array[Byte] = {
      val start = i
      while (i < bytes.length && !isSpace(bytes(i))) i += 1
      val tok = java.util.Arrays.copyOfRange(bytes, start, i)
      skip()
      tok
    }
  }

  /** Paths a manifest lists, in id order, resolved against `baseDir`. */
  def manifestPaths(manifest: Path, baseDir: Path): Seq[Path] = {
    val toks = rawTokens(Files.readAllBytes(manifest)).map(new String(_, UTF_8)).toVector
    if (toks.isEmpty) Seq.empty
    else toks.tail.take(toks.head.toInt).map(baseDir.resolve)
  }

  /** (df DESC, word ASC): the line order inside a letter file. */
  private val Ranking: java.util.Comparator[(String, Array[Long])] = (a, b) =>
    if (a._2.length != b._2.length) Integer.compare(b._2.length, a._2.length) else a._1.compareTo(b._1)

  private final class Postings { var last = 0L; val ids = new mutable.ArrayBuilder.ofLong }

  /** Index the corpus a manifest describes, reading the files from disk. */
  def build(manifest: Path, baseDir: Path): Model = {
    val lists = mutable.HashMap.empty[String, Postings]
    var tokens = 0L
    val paths = manifestPaths(manifest, baseDir)
    paths.zipWithIndex.foreach { case (p, i) =>
      val id = i + 1L
      rawTokens(Files.readAllBytes(p)).foreach { raw =>
        val w = clean(raw)
        if (w.nonEmpty) {
          tokens += 1
          val ps = lists.getOrElseUpdate(w, new Postings)
          if (ps.last != id) { ps.last = id; ps.ids += id }
        }
      }
    }
    new Model(lists.map { case (w, ps) => w -> ps.ids.result() }, paths.size.toLong, tokens)
  }
}
