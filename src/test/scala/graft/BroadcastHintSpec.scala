package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.{codeLines, mainSources}

/** Spark's planner places the broadcasts: it broadcasts a join side whose
  * size estimate is under `spark.sql.autoBroadcastJoinThreshold`, and stops
  * once the side outgrows it. A `broadcast(` hint overrides that at any
  * size, so each file holds a committed budget of them: the lake stores'
  * hints on batch- or sample-bounded frames, and the query-side hints that
  * a plan dump (`graft.tools.PlanDump`, `plans/planner_broadcasts/`) shows
  * change a join, at sf0.1 or, on a frame that stays small while its size
  * estimate follows a growing table, at a lowered threshold; each with a
  * comment naming the plan its removal produces. Every hint form counts:
  * the `broadcast(` function, a `.hint("broadcast")` and a SQL BROADCAST
  * hint comment. A file over its budget fails the suite, listing each hint
  * as file:line; a file under it fails too, so the budget follows every
  * removal. Raise a budget only with the plan dump that shows why, stated
  * in CHANGES.md. */
class BroadcastHintSpec extends AnyFunSuite {
  private val Budget: Map[String, Int] = Map(
    // the lake stores: batch-, sample- or tombstone-bounded frames
    "ops/ClusterStore.scala" -> 22,
    "ops/IvfIndex.scala" -> 6,
    "ops/SignatureIndex.scala" -> 5,
    "ops/ShardedStore.scala" -> 2,
    "ops/DedupOps.scala" -> 1,
    "streaming/StreamingOps.scala" -> 2,
    // query-side hints whose removal changes a plan: at sf0.1, or at a
    // lowered threshold on a frame that stays small while its estimate
    // follows a growing table (TimeOps: no catalog query runs it, so no
    // plan dump covers it)
    "ops/TimeOps.scala" -> 1,
    "ops/VectorOps.scala" -> 1,
    "queries/AnalyticQueries.scala" -> 4,
    "queries/BehaviorQueries.scala" -> 5,
    "queries/CurationQueries.scala" -> 3,
    "queries/DedupQueries.scala" -> 5,
    "queries/EvalQueries.scala" -> 4,
    "queries/LayoutQueries.scala" -> 1,
    "queries/MixQueries.scala" -> 2,
    "queries/PartsuppQueries.scala" -> 3,
    "queries/TextQueries.scala" -> 2,
    "queries/TimeSeriesQueries.scala" -> 5,
    "queries/VectorQueries.scala" -> 18)

  /** A broadcast hint call: `broadcast(df)`, bare or qualified
    * (`functions.broadcast(df)`, `F.broadcast(df)`), or `.hint("broadcast")`
    * and its aliases; not `sparkContext.broadcast(v)` or `sc.broadcast(v)`,
    * which ship a value to the executors. */
  private val Call = ("""(?<![\w.])(?:\w+\.)*(?<!sparkContext\.|\bsc\.)broadcast\(""" +
    """|\.hint\(\s*"(?i:broadcast|broadcastjoin|mapjoin)"""").r
  /** A SQL hint comment naming BROADCAST (or an alias). It is itself a
    * comment, so it is looked for in the raw line, not in the line with
    * comments blanked. */
  private val SqlHint = """(?i)/\*\+\s*(?:broadcast|broadcastjoin|mapjoin)\b""".r

  private def count(raw: String, code: String): Int =
    Call.findAllMatchIn(code).size + SqlHint.findAllMatchIn(raw).size

  /** "file:line: code" for each hint in a main source. */
  private def hints(f: java.io.File): Seq[String] = {
    val raw = java.nio.file.Files.readString(f.toPath).split("\n", -1)
    codeLines(f).flatMap { case (_, n, code) =>
      Seq.fill(count(raw(n - 1), code))(s"${f.getPath}:$n: ${raw(n - 1).trim}")
    }
  }

  private def key(f: java.io.File) =
    f.getPath.replace('\\', '/').replaceFirst(".*/src/main/scala/graft/", "")

  test("the hint scan sees every hint form, and no value broadcast") {
    val hinted = Seq("a.join(broadcast(b))", "a.join(functions.broadcast(b))",
      "a.crossJoin(F.broadcast(b))", """a.join(b.hint("BROADCAST"))""", """b.hint("mapjoin")""",
      """spark.sql("SELECT /*+ BROADCASTJOIN(b) */ * FROM a JOIN b")""")
    val plain = Seq("sc.broadcast(v)", "spark.sparkContext.broadcast(v)",
      "fact.sparkSession.sparkContext.broadcast(bf)", """b.hint("shuffle_hash")""",
      "broadcastAll(b)", "val rebroadcast(x) = 1")
    assert(hinted.map(l => count(l, l)) == hinted.map(_ => 1), "the hint scan lost a form")
    assert(plain.map(l => count(l, l)).sum == 0, "the hint scan counts a non-hint")
  }

  test("every budgeted file exists") {
    val files = mainSources.map(key).toSet
    assert(Budget.keySet.diff(files).isEmpty)
  }

  test("broadcast hints stay within each file's budget") {
    val problems = mainSources.map(f => f -> hints(f)).collect {
      case (f, hits) if hits.size > Budget.getOrElse(key(f), 0) =>
        s"${key(f)}: ${hits.size} hints, budget ${Budget.getOrElse(key(f), 0)}:\n" +
          hits.mkString("\n")
      case (f, hits) if hits.size < Budget.getOrElse(key(f), 0) =>
        s"${key(f)}: ${hits.size} hints, budget ${Budget(key(f))}: lower the budget"
    }
    if (problems.nonEmpty) fail("let the planner place the broadcast, or raise the budget " +
      "with a plan dump that shows the hint changes the join:\n" + problems.mkString("\n"))
  }
}
