package graft

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** Every main honours the configured core count: sessions come from
  * [[Sessions.local]] (or the driver-contract mains Bench and Verify), and
  * no source hardcodes a `local[<digits>]` master, which would silently
  * oversubscribe or starve whatever host the tool runs on. Comments are
  * ignored; every hit is reported as file:line. */
class CoreCountSpec extends AnyFunSuite {
  private val sessionOwners = Set("Sessions.scala", "Bench.scala", "Verify.scala")

  private lazy val mainSources: Seq[File] = {
    val root = Iterator.iterate(new File(".").getCanonicalFile)(_.getParentFile)
      .takeWhile(_ != null).map(new File(_, "src/main/scala"))
      .find(_.isDirectory)
      .getOrElse(fail("src/main/scala not found above the working directory"))
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root)
  }

  /** (file, 1-based line, code) with comments blanked out, line numbers kept. */
  private def codeLines(f: File): Seq[(File, Int, String)] = {
    val noBlocks = "(?s)/\\*.*?\\*/".r.replaceAllIn(Files.readString(f.toPath),
      m => java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))
    noBlocks.split("\n", -1).toSeq.zipWithIndex.map { case (l, i) =>
      (f, i + 1, l.replaceAll("//.*$", ""))
    }
  }

  private def hits(p: (File, String) => Boolean): Seq[String] =
    mainSources.flatMap(codeLines).collect {
      case (f, n, code) if p(f, code) => s"${f.getPath}:$n: ${code.trim}"
    }

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
