package graft

import java.nio.file.{Files, Paths}

import org.scalatest.Assertions

/** The reference checker's corpus: manifests `test.txt` / `test_small.txt`,
  * the documents they list, and the golden outputs `test_out/` /
  * `test_out_small/` (FIXTURES.md). Suites that need it ask for each path
  * here, so a missing corpus fails each such test with one message naming
  * the path instead of a raw file-not-found from deep inside Spark.
  */
object RefCorpus {

  val Dir = "/root/reference/checker"

  /** `rel` under the checker directory; fails the calling test if absent. */
  def apply(rel: String = ""): String = {
    val p = if (rel.isEmpty) Dir else s"$Dir/$rel"
    if (!Files.exists(Paths.get(p)))
      Assertions.fail(s"reference corpus not found: $p (the reference checker's corpus and golden outputs, FIXTURES.md)")
    p
  }
}
