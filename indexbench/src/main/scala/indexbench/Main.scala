package indexbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  *
  * Prints two JSON lines on stdout: the run's artifact (header, per-sample
  * timings) and, last, the result `{"correct", "attempted", "failed",
  * "metrics"}`. Exits non-zero if the run itself cannot complete.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cfg = Config(
      workload = Workload.named(need("workload")),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = Paths.get(need("work")))
    val out = new Bench(cfg).run()
    val nonFinite = out.metrics.filterNot(_._2.isFinite)
    require(nonFinite.isEmpty, s"metrics without samples: ${nonFinite.map(_._1).mkString(", ")}")
    println(json(Seq(
      "header" -> json(out.header),
      "op_failure_ratio" -> out.failureRatio,
      "samples" -> json(out.samples.map { case (k, v) => k -> v.asJava }))))
    println(result(out))
  }

  def result(out: Outcome): ObjectNode = json(Seq(
    "correct" -> (out.failed == 0),
    "attempted" -> out.attempted,
    "failed" -> out.failed,
    "metrics" -> json(out.metrics.map { case (n, v, u) => n -> json(Seq("value" -> v, "unit" -> u)) })))

  private val mapper = new ObjectMapper()

  /** A JSON object with `fields` in order. */
  private def json(fields: Seq[(String, Any)]): ObjectNode = {
    val node = mapper.createObjectNode()
    fields.foreach { case (k, v) => node.set[JsonNode](k, mapper.valueToTree[JsonNode](v)) }
    node
  }
}
