package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.{codeLines, hits, mainSources}

/** Lineage is cut in one place: `ops/Checkpoints.scala` owns the only
  * `localCheckpoint`/`checkpoint` calls, so every settled frame honours
  * `spark.graft.checkpoint.mode` and every scoped one is released. A
  * direct call elsewhere fails the suite, named as file:line. A round loop
  * goes through `Checkpoints.iterate`, which releases each round once the
  * next is settled: a `cutLineage()` inside a hand-written loop body keeps
  * every round's checkpoint. */
class LineageCutSpec extends AnyFunSuite {
  private def isOwner(f: java.io.File) =
    f.getPath.replace('\\', '/').endsWith("graft/ops/Checkpoints.scala")

  private val LoopHead = """\b(?:for|while)\s*\(|\.foldLeft\s*\(""".r

  /** Index of the bracket that closes the `(` or `{` at `from`. */
  private def closing(text: String, from: Int): Int = {
    val (open, close) = (text(from), if (text(from) == '(') ')' else '}')
    val depths = text.iterator.drop(from).scanLeft(0) { (d, c) =>
      if (c == open) d + 1 else if (c == close) d - 1 else d
    }.drop(1)
    val k = depths.indexWhere(_ == 0)
    if (k < 0) text.length - 1 else from + k
  }

  /** 0-based indices of the lines of `code` inside a loop body: from the
    * `{` that follows a `for (…)`, `while (…)` or `.foldLeft(…)` header to
    * its matching `}` (a brace-less body: the rest of the header's line). */
  private def loopBodyLines(code: Seq[String]): Set[Int] = {
    val text = code.mkString("\n")
    def line(at: Int) = text.substring(0, at).count(_ == '\n')
    LoopHead.findAllMatchIn(text).flatMap { m =>
      val header = closing(text, m.end - 1)
      val open = text.indexWhere(c => !c.isWhitespace, header + 1)
      if (open >= 0 && text(open) == '{') line(open) to line(closing(text, open))
      else Seq(line(header))
    }.toSet
  }

  test("scanner sees Checkpoints") {
    assert(mainSources.exists(isOwner))
  }

  test("localCheckpoint and checkpoint are called only in ops/Checkpoints.scala") {
    val found = hits((f, code) => !isOwner(f) &&
      (code.contains("localCheckpoint(") || code.contains(".checkpoint(")))
    if (found.nonEmpty) fail("cut lineage via Checkpoints.settled or cutLineage():\n" +
      found.mkString("\n"))
  }

  test("no cutLineage() inside a for/while/foldLeft body outside ops/Checkpoints.scala") {
    val probe = loopBodyLines(Seq("x.foldLeft(a) { (b, _) =>", "  b.cutLineage()", "}",
      "while (i < n) i += 1", "for (k <- ks) {", "  if (k) {", "  }", "}", "y"))
    assert(probe == Set(0, 1, 2, 3, 4, 5, 6, 7), "the loop-body scan lost track")
    val found = mainSources.filterNot(isOwner).flatMap { f =>
      val lines = codeLines(f)
      val inLoop = loopBodyLines(lines.map(_._3))
      lines.zipWithIndex.collect {
        case ((_, n, code), i) if inLoop(i) && code.contains("cutLineage()") =>
          s"${f.getPath}:$n: ${code.trim}"
      }
    }
    if (found.nonEmpty) fail("run round loops through Checkpoints.iterate:\n" +
      found.mkString("\n"))
  }
}
