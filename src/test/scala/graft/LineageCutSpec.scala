package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.{hits, mainSources}

/** Lineage is cut in one place: `ops/Checkpoints.scala` owns the only
  * `localCheckpoint`/`checkpoint` calls, so every settled frame honours
  * `spark.graft.checkpoint.mode` and every scoped one is released. A
  * direct call elsewhere fails the suite, named as file:line. */
class LineageCutSpec extends AnyFunSuite {
  private def isOwner(f: java.io.File) =
    f.getPath.replace('\\', '/').endsWith("graft/ops/Checkpoints.scala")

  test("scanner sees Checkpoints") {
    assert(mainSources.exists(isOwner))
  }

  test("localCheckpoint and checkpoint are called only in ops/Checkpoints.scala") {
    val found = hits((f, code) => !isOwner(f) &&
      (code.contains("localCheckpoint(") || code.contains(".checkpoint(")))
    if (found.nonEmpty) fail("cut lineage via Checkpoints.settled or cutLineage():\n" +
      found.mkString("\n"))
  }
}
