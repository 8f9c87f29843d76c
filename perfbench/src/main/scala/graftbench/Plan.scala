package graftbench

import scala.io.Source

/** One call into the engine. `kind` is one of query, stage, ingest,
  * forget_logical, forget, compact; `arg` is the query name, the stage
  * number, or the parquet path of the batch. */
final case class Op(kind: String, arg: String) {
  def name: String = kind match {
    case "query" => arg
    case "stage" => s"pipeline.stage$arg"
    case other   => s"stores.$other"
  }
}

/** The run plan written by run.py: tab-separated `key value` lines, then
  * one `pass` line per pass followed by its `op kind arg` lines. The first
  * `warmup_passes` passes warm up, and the outputs of pass 0 are checked;
  * the next `timed_passes` passes (twice as many in a traced run) are
  * timed. */
final case class Plan(conf: Map[String, String], passes: Seq[Seq[Op]]) {
  def apply(key: String): String =
    conf.getOrElse(key, sys.error(s"plan has no '$key'"))
  def int(key: String): Int = apply(key).toInt
  def workload: String = apply("workload")
  def traced: Boolean = apply("trace") == "1"
}

object Plan {
  def read(path: String): Plan = {
    val src = Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
      finally src.close()
    val conf = lines.collect { case Array(k, v) => k -> v }.toMap
    val passes = Vector.newBuilder[Seq[Op]]
    var cur: Vector[Op] = null
    lines.foreach {
      case Array("pass") =>
        if (cur != null) passes += cur
        cur = Vector.empty
      case Array("op", k, a) => cur :+= Op(k, a)
      case _ =>
    }
    if (cur != null) passes += cur
    Plan(conf, passes.result())
  }
}
