package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.priorComparison]]: the sweep compares its bests against the
  * prior artifact only when both ran on the same host at the same CPU count.
  */
class BenchPriorSpec extends AnyFunSuite {

  private val now = Seq("index_build" -> 0.5, "q_a" -> 2.0, "q_b" -> 1.0, "q_c" -> 0.1)

  private def artifact(cpus: Option[Int], host: Option[String] = Some("h1")) =
    s"""{"metric":"total","value":3.1,"unit":"sec"${cpus.fold("")(c => s""","cpus":$c""")}""" +
      s"""${host.fold("")(h => s""","host":"$h"""")},""" +
      """"queries":{"index_build":0.5,"q_a":1.0,"q_b":1.0,"q_c":0.05},"failed":0}"""

  test("same CPU count: slow queries are flagged and the drift median is computed") {
    val (regressions, drift) = Bench.priorComparison(Some(artifact(Some(4))), "4", "h1", now)
    assert(regressions == ""","regressions":[{"query":"q_a","prior":1.000,"now":2.000}]""")
    assert(drift == ""","drift_vs_prior":{"median_ratio":2.000,"common_queries":3}""")
  }

  test("a prior from another CPU count, or one without a count, is not compared") {
    assert(Bench.priorComparison(Some(artifact(Some(8))), "32", "h1", now) ==
      (""","regressions":[{"prior_cpus":8,"now_cpus":32}]""", ""","drift_vs_prior":null"""))
    assert(Bench.priorComparison(Some(artifact(None)), "4", "h1", now) ==
      (""","regressions":[{"prior_cpus":null,"now_cpus":4}]""", ""","drift_vs_prior":null"""))
  }

  test("no prior artifact: nothing to compare; an unparseable one is flagged") {
    assert(Bench.priorComparison(None, "4", "h1", now) ==
      (""","regressions":[]""", ""","drift_vs_prior":null"""))
    assert(Bench.priorComparison(Some("""{"cpus":4,"host":"h1"}"""), "4", "h1", now) ==
      (""","regressions":[{"prior_unreadable":true}]""", ""","drift_vs_prior":null"""))
  }

  test("a prior from another host, or one without a host, is not compared") {
    assert(Bench.priorComparison(Some(artifact(Some(4), Some("h2"))), "4", "h1", now) ==
      (""","regressions":[{"prior_host":"h2","now_host":"h1"}]""", ""","drift_vs_prior":null"""))
    assert(Bench.priorComparison(Some(artifact(Some(4), None)), "4", "h1", now) ==
      (""","regressions":[{"prior_host":null,"now_host":"h1"}]""", ""","drift_vs_prior":null"""))
    // both differ: one entry each
    assert(Bench.priorComparison(Some(artifact(Some(8), Some("h2"))), "4", "h1", now)._1 ==
      ""","regressions":[{"prior_cpus":8,"now_cpus":4},{"prior_host":"h2","now_host":"h1"}]""")
  }
}
