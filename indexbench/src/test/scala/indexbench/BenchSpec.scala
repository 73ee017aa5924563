package indexbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: the model against FIXTURES.md, the
  * generator's determinism, a tiny run of every workload, and that damaged
  * output is counted as failed operations.
  */
class BenchSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props.getOrElse("indexbench.root", ".."))
  private def scratch(name: String): Path = {
    val p = root.resolve(".bench_build").resolve("test-work").resolve(name)
    Bench.deleteTree(p)
    Files.createDirectories(p)
  }

  /** (name, unit) of the metrics BENCHMARK.json declares under `key`. */
  private def declared(key: String): Seq[(String, String)] =
    new ObjectMapper().readTree(root.resolve("BENCHMARK.json").toFile).get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  /** `w` shrunk to a few thousand tokens with the same shape. */
  private def tiny(w: Workload): Workload = {
    def shrink(c: CorpusSpec) = c.copy(
      docs = math.max(1, c.docs / 100),
      tokensPerDoc = math.max(20, c.tokensPerDoc / 50),
      vocab = math.max(200, c.vocab / 100))
    w.copy(corpus = shrink(w.corpus), delta = shrink(w.delta))
  }

  private def run(w: Workload, trace: Boolean, tamper: Tamper = Tamper.None): Outcome =
    new Bench(Config(tiny(w), seed = 7, seconds = 0, trace = trace,
      work = scratch(s"${w.name}-$trace"), setups = 1, tamper = tamper)).run()

  test("tokenizer follows the FIXTURES.md §4 table") {
    val table = Seq(
      "abc123" -> "abc", "42" -> "", "don't" -> "dont", "well-known" -> "wellknown",
      "CAFÉs" -> "cafs", "café" -> "caf", "naïve" -> "nave", "x_y_z" -> "xyz",
      "hello," -> "hello", "\"quoted\"" -> "quoted", "3rd" -> "rd", "abc123def" -> "abcdef")
    table.foreach { case (raw, want) => assert(Model.clean(raw.getBytes(UTF_8)) == want, raw) }
  }

  test("model output keeps the FIXTURES.md §6 invariants") {
    val dir = scratch("invariants")
    val w = tiny(Workload.named("build_many_docs"))
    val vocab = Corpus.vocabulary(3, w.corpus.vocab, w.corpus.zipfS)
    val c = Corpus.write(dir, w.corpus, vocab, 3, 0)
    val m = Model.build(c.manifest, c.baseDir)
    assert(m.words > 50)
    val line = """([a-z]+):\[([0-9 ]+)\]""".r
    ('a' to 'z').zip(m.files).foreach { case (ch, bytes) =>
      val keys = new String(bytes, UTF_8).split("\n").filter(_.nonEmpty).toSeq.map {
        case line(word, ids) =>
          assert(word.head == ch)
          assert(Model.clean(word.getBytes(UTF_8)) == word)
          val xs = ids.split(' ').map(_.toLong).toSeq
          assert(xs == xs.distinct.sorted && xs.head >= 1 && xs.last <= c.docs)
          (-xs.size, word)
        case other => fail(s"malformed line '$other'")
      }
      assert(keys == keys.sorted && keys.distinct == keys)
    }
  }

  test("the generator is a function of the seed") {
    val spec = CorpusSpec(docs = 5, tokensPerDoc = 200, vocab = 500, zipfS = 1.0)
    def sha(seed: Long, dir: String) =
      Corpus.write(scratch(dir), spec, Corpus.vocabulary(seed, spec.vocab, spec.zipfS), seed, 0).sha256
    assert(sha(1, "gen-a") == sha(1, "gen-b"))
    assert(sha(1, "gen-a") != sha(2, "gen-c"))
  }

  Workload.all.foreach { w =>
    test(s"tiny ${w.name} run: every operation checked and correct") {
      val out = run(w, trace = false)
      assert(out.failed == 0 && out.attempted > 10)
      assert(out.metrics.map(m => m._1 -> m._3) == declared("end_to_end"))
      assert(out.metrics.forall(m => m._2.isFinite && m._2 > 0), out.metrics)
    }

    test(s"tiny traced ${w.name} run: build layers add up to the traced build") {
      val out = run(w, trace = true)
      assert(out.failed == 0)
      assert(out.metrics.map(m => m._1 -> m._3) == declared("per_layer"))
      val m = out.metrics.map(x => x._1 -> x._2).toMap
      assert(out.metrics.forall(_._2.isFinite), out.metrics)
      val layers = Seq("manifest.self_s", "tokenize.self_s", "postings.self_s", "sink.self_s").map(m).sum
      assert(math.abs(layers - m("trace.build_s")) < 1e-9)
      assert(m("manifest.files") == tiny(w).corpus.docs)
      assert(m("sink.lines") == m("postings.words"))
    }
  }

  test("a corrupted letter file counts as a failed operation") {
    val corrupt = new Tamper {
      override def index(dir: Path): Unit =
        Files.write(dir.resolve("q.txt"), "qzz:[1]\n".getBytes(UTF_8), StandardOpenOption.APPEND)
    }
    val out = run(Workload.all.head, trace = false, corrupt)
    // every build and merge writes a damaged snapshot; no query reads 'qzz'
    val writes = 2 + Workload.MinBuilds + Workload.MinRounds
    assert(out.failed == writes && out.failureRatio > 0)
    assert(!Main.result(out).get("correct").asBoolean)
  }

  test("a wrong query result counts as a failed operation") {
    val wrong = new Tamper {
      override def andResult(ids: Seq[Long]): Seq[Long] = ids :+ 999999L
    }
    val out = run(Workload.all.head, trace = false, wrong)
    assert(out.failed > 0 && out.failed < out.attempted && out.failureRatio > 0)
  }
}
