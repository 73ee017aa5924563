package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Golden end-to-end parity against the reference's own corpora + expected
  * outputs (the reference checker compares with `diff -w`, i.e. whitespace-
  * insensitive — we normalize by stripping all whitespace per line).
  */
class GoldenIndexSpec extends SparkSpec {

  private def normalized(dir: String): Map[String, Seq[String]] =
    ('a' to 'z').map { ch =>
      val p = Paths.get(dir, s"$ch.txt")
      val lines =
        if (Files.exists(p))
          Files.readAllLines(p).asScala.toSeq.map(_.replaceAll("\\s+", "")).filter(_.nonEmpty)
        else Seq.empty
      ch.toString -> lines
    }.toMap

  private def check(manifest: String, goldenDir: String, tag: String): Unit = {
    val out = Files.createTempDirectory(s"graft-golden-$tag").toString
    Engine.buildIndex(spark, RefCorpus(manifest), RefCorpus(), out)
    val got  = normalized(out)
    val want = normalized(RefCorpus(goldenDir))
    ('a' to 'z').foreach { ch =>
      assert(got(ch.toString) == want(ch.toString), s"$tag: ${ch}.txt mismatch")
    }
  }

  test("small corpus matches golden (27 postings, x.txt empty)") {
    check("test_small.txt", "test_out_small", "small")
  }

  test("large corpus matches golden (355 docs, 33262 postings)") {
    check("test.txt", "test_out", "large")
  }
}
