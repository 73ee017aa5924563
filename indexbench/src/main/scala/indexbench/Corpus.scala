package indexbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

/** Shape of one generated corpus: `docs` documents of `tokensPerDoc` raw
  * tokens each, drawn from a Zipf(`zipfS`) law over `vocab` base words.
  */
final case class CorpusSpec(docs: Int, tokensPerDoc: Int, vocab: Int, zipfS: Double) {
  def tokens: Long = docs.toLong * tokensPerDoc
}

/** A corpus written to disk: `manifest` lists the documents relative to
  * `baseDir`; `sha256` covers the manifest and every document byte.
  */
final case class CorpusFiles(manifest: Path, baseDir: Path, docs: Int, sha256: String)

/** Base words, drawn by a Zipf(`zipfS`) law over their ranks. */
final class Vocabulary(val words: Array[String], zipfS: Double) {
  // cumulative Zipf weights over ranks 1..V
  private val cdf: Array[Double] = {
    val w = Array.tabulate(words.length)(r => 1.0 / math.pow(r + 1.0, zipfS))
    var acc = 0.0
    w.map { x => acc += x; acc }
  }

  def draw(rng: java.util.SplittableRandom): String = {
    val u = rng.nextDouble() * cdf(cdf.length - 1)
    var lo = 0
    var hi = cdf.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    words(lo)
  }
}

/** Seeded, single-threaded corpus generator. The engine only ever sees the
  * files it writes.
  *
  * Base words are lowercase ASCII with English-like first-letter
  * frequencies, so the 26 letter buckets are uneven. Each occurrence is
  * rendered in a surface form that exercises the tokenizer's edge cases
  * (FIXTURES.md §4): capitals, surrounding punctuation and quotes, digits,
  * `well-known` / `don't` / `x_y` joins, multibyte UTF-8 letters, and tokens
  * that clean to nothing.
  */
object Corpus {

  // English first-letter frequencies (per mille), a..z
  private val FirstLetter = Array(
    117, 44, 52, 32, 28, 40, 16, 42, 73, 5, 9, 24, 38, 23, 76, 43, 2, 28, 67, 160, 12, 8, 55, 1, 8, 1)
  private val Letters = "etaoinshrdlcumwfgypbvkjxqz"
  private val Multibyte = Array("é", "ï", "ü", "ñ", "ß", "ø", "ç", "€", "—")
  private val Punct = Array(",", ".", ";", ":", "!", "?", ")", "...")
  private val Junk = Array("42", "1999", "—", "...", "--", "3.14", "&", "#7")

  def vocabulary(seed: Long, size: Int, zipfS: Double): Vocabulary = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val firstCdf = FirstLetter.scanLeft(0)(_ + _).tail
    val seen = mutable.HashSet.empty[String]
    val out = new Array[String](size)
    var n = 0
    while (n < size) {
      val f = rng.nextInt(firstCdf.last)
      val first = ('a' + firstCdf.indexWhere(f < _)).toChar
      val len = 2 + math.min(rng.nextInt(4) + rng.nextInt(4) + rng.nextInt(4), 11)
      val sb = new StringBuilder().append(first)
      while (sb.length < len) sb.append(Letters.charAt(math.min(rng.nextInt(26), rng.nextInt(26))))
      val w = sb.toString
      if (seen.add(w)) { out(n) = w; n += 1 }
    }
    new Vocabulary(out, zipfS)
  }

  /** One raw token for base word `w` (the next word `v` feeds joins). */
  private def surface(w: String, v: => String, rng: java.util.SplittableRandom): String = {
    val p = rng.nextInt(1000)
    if (p < 700) w
    else if (p < 780) w.capitalize
    else if (p < 800) w.toUpperCase
    else if (p < 860) w + Punct(rng.nextInt(Punct.length))
    else if (p < 880) "\"" + w + "\""
    else if (p < 890) "(" + w
    else if (p < 900) rng.nextInt(10).toString + w                 // 3rd -> rd
    else if (p < 910) w + rng.nextInt(1000).toString               // abc123 -> abc
    else if (p < 920) w + "-" + v                                  // well-known -> wellknown
    else if (p < 930) w + "'" + v.take(1)                          // don't -> dont
    else if (p < 935) w + "_" + v                                  // x_y -> xy
    else if (p < 945) {                                            // café -> caf (bytes dropped)
      val i = 1 + rng.nextInt(w.length)
      w.substring(0, i) + Multibyte(rng.nextInt(Multibyte.length)) + w.substring(i)
    } else if (p < 955) {                                          // naïve -> nave (a letter replaced)
      val i = rng.nextInt(w.length)
      w.substring(0, i) + Multibyte(rng.nextInt(Multibyte.length)) + w.substring(i + 1)
    } else if (p < 965) w.capitalize + Multibyte(rng.nextInt(Multibyte.length)) + "s"
    else if (p < 975) Junk(rng.nextInt(Junk.length))               // cleans to nothing
    else w
  }

  /** Write `spec.docs` documents plus `manifest.txt` under `dir`. Ids in
    * the manifest are positional, so the engine numbers the documents
    * 1..docs. Deltas use a different `stream` so their text differs from
    * the base corpus while sharing its vocabulary.
    */
  def write(dir: Path, spec: CorpusSpec, vocab: Vocabulary, seed: Long, stream: Long): CorpusFiles = {
    Files.createDirectories(dir.resolve("docs"))
    val md = MessageDigest.getInstance("SHA-256")
    val rng = new java.util.SplittableRandom(seed * 1000003L + stream)
    val manifest = new StringBuilder().append(spec.docs).append('\n')
    val sb = new java.lang.StringBuilder(spec.tokensPerDoc * 8)
    for (d <- 1 to spec.docs) {
      val rel = s"docs/d$d.txt"
      manifest.append(rel).append('\n')
      sb.setLength(0)
      var t = 0
      var sinceBreak = 0
      while (t < spec.tokensPerDoc) {
        sb.append(surface(vocab.draw(rng), vocab.draw(rng), rng))
        t += 1
        sinceBreak += 1
        if (t < spec.tokensPerDoc) {
          if (sinceBreak >= 8 && rng.nextInt(6) == 0) { sb.append('\n'); sinceBreak = 0 }
          else if (rng.nextInt(40) == 0) sb.append(if (rng.nextBoolean()) "\t" else "  ")
          else sb.append(' ')
        }
      }
      sb.append('\n')
      val body = sb.toString.getBytes(UTF_8)
      md.update(body)
      val out = new BufferedOutputStream(new FileOutputStream(dir.resolve(rel).toFile), 1 << 16)
      try out.write(body) finally out.close()
    }
    val mBytes = manifest.toString.getBytes(UTF_8)
    md.update(mBytes)
    val manifestPath = dir.resolve("manifest.txt")
    Files.write(manifestPath, mBytes)
    CorpusFiles(manifestPath, dir, spec.docs, md.digest().map("%02x".format(_)).mkString)
  }
}
