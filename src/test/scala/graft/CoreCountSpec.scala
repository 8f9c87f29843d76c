package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.{hits, mainSources}

/** Every main honours the configured core count: sessions come from
  * [[Sessions.local]] (or the driver-contract mains Bench and Verify), and
  * no source hardcodes a `local[<digits>]` master, which would silently
  * oversubscribe or starve whatever host the tool runs on. Comments are
  * ignored; every hit is reported as file:line. */
class CoreCountSpec extends AnyFunSuite {
  private val sessionOwners = Set("Sessions.scala", "Bench.scala", "Verify.scala")

  test("scanner sees the session owners") {
    assert(sessionOwners.subsetOf(mainSources.map(_.getName).toSet))
  }

  test("SparkSession.builder only in Sessions, Bench and Verify") {
    val found = hits((f, code) =>
      code.contains("SparkSession.builder") && !sessionOwners(f.getName))
    if (found.nonEmpty) fail("build sessions via Sessions.local():\n" + found.mkString("\n"))
  }

  test("no hardcoded local[<digits>] master") {
    val found = hits((_, code) => "local\\[\\d+\\]".r.findFirstIn(code).isDefined)
    if (found.nonEmpty) fail("core count must come from SPARK_GRAFT_CPUS:\n" + found.mkString("\n"))
  }
}
