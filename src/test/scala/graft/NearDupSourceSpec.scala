package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each near-dup step has one definition in the main sources, with no
  * allowlist: exact verification of a candidate's (hs_l, hs_r) sides is
  * written once in `graft/queries` (DedupQueries' shared helper), the
  * fixed-size sample rule (target·10⁶ div n + 1) lives only in HashOps,
  * and `RecallSampleTarget` is defined once. A second copy fails here
  * with its file:line. */
class NearDupSourceSpec extends AnyFunSuite {

  test("exact verification of candidate sides is written once, in DedupQueries") {
    val hits = SourceScan.hits((f, code) => f.getPath.contains("/graft/queries/") &&
      code.contains("""intersectSizeSorted(col("hs_l"), col("hs_r"))"""))
    assert(hits.size === 1 && hits.head.contains("/DedupQueries.scala:"),
      s"verification written at:\n${hits.mkString("\n")}")
  }

  test("the fixed-size sample predicate lives only in HashOps") {
    val rule = """\*\s*1000000L?\s+div\s+\w+\s*\+\s*1""".r
    val hits = SourceScan.hits((f, code) =>
      f.getName != "HashOps.scala" && rule.findFirstIn(code).nonEmpty)
    assert(hits.isEmpty, s"sample predicate written outside HashOps at:\n${hits.mkString("\n")}")
    assert(SourceScan.hits((f, code) => f.getName == "HashOps.scala" &&
      code.contains("def inFixedSizeSample(")).size === 1)
  }

  test("RecallSampleTarget is defined once") {
    val hits = SourceScan.hits((_, code) =>
      """\bRecallSampleTarget\s*(:\s*\w+\s*)?=[^=>]""".r.findFirstIn(code).nonEmpty)
    assert(hits.size === 1, s"RecallSampleTarget defined at:\n${hits.mkString("\n")}")
  }
}
