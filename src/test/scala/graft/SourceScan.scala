package graft

import org.scalatest.Assertions.fail

import java.io.File
import java.nio.file.Files

/** Source rules over `src/main/scala`: the non-comment lines of every main
  * source, for specs that forbid a construct outside the files that own it.
  * Comments are blanked out and line numbers kept, so every hit is
  * reported as file:line. */
object SourceScan {
  lazy val mainSources: Seq[File] = {
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
  def codeLines(f: File): Seq[(File, Int, String)] = {
    val noBlocks = "(?s)/\\*.*?\\*/".r.replaceAllIn(Files.readString(f.toPath),
      m => java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))
    noBlocks.split("\n", -1).toSeq.zipWithIndex.map { case (l, i) =>
      (f, i + 1, l.replaceAll("//.*$", ""))
    }
  }

  /** "file:line: code" for every non-comment line where `p(file, code)` holds. */
  def hits(p: (File, String) => Boolean): Seq[String] =
    mainSources.flatMap(codeLines).collect {
      case (f, n, code) if p(f, code) => s"${f.getPath}:$n: ${code.trim}"
    }
}
