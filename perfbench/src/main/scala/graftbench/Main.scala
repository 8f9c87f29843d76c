package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Pipeline, Sessions, SparkEntry, Tables}
import graft.ops.DedupOps
import graft.queries.DedupQueries
import graft.streaming.StreamingOps

/** Runs one benchmark plan (see Plan) in a fresh JVM and writes the raw
  * run record as JSON: set-up times, per-pass and per-op wall times, the
  * outputs' check values and, when traced, spans and listener records.
  * Metrics are derived from the record by run.py.
  *
  * Usage: graftbench.Main <plan.tsv>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val record = new Runner(plan).run()
    Files.writeString(Paths.get(plan("out")), Json(record))
    // do not wait for threads a library may have left running
    System.exit(0)
  }
}

final class Runner(plan: Plan) {
  private val cpus = plan.int("cpus")
  private val data = plan("data")
  private val work = plan("work")
  private val index = s"$work/index"

  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  /** Wall clock in epoch ms with nanoTime resolution, comparable with the
    * listener's epoch-ms event times. */
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val opRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextSpan = 0
  private var opCount = 0

  private def span[T](name: String, parent: Int, op: Int)(body: => T): T = {
    val id = nextSpan; nextSpan += 1
    val start = nowMs
    try body
    finally spans += Map("id" -> id, "parent" -> parent, "name" -> name,
      "op" -> op, "start" -> start, "end" -> nowMs)
  }

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config(Sessions.defaults)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.checkpoint.dir", s"$work/checkpoint")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private lazy val catalog = SparkEntry.catalog.map(q => q.name -> q).toMap

  def run(): Map[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    spark
    val sessionReadyMs = nowMs
    val sessionCpuS = os.getProcessCpuTime / 1e9
    val prep = (1 to plan.int("setup_reps")).map(_ => timed(checkFixture()))
    // the warm-up passes; the outputs of the first one are checked
    val warmupPasses = plan.int("warmup_passes")
    val warmup = timed((0 until warmupPasses).foreach(w =>
      runPass(w, plan.passes(w), checked = w == 0, traced = false)))
    val recorder = new Recorder
    // A fixed number of timed passes, so that every run does the same work.
    // A traced run runs as many again and interleaves untraced and traced
    // passes as U T T U U T T U ..., so that the tracing overhead is
    // measured within one process and a drift in speed over the run (JIT,
    // caches) cancels; it has as many of each.
    val timedPasses = plan.int("timed_passes") * (if (plan.traced) 2 else 1)
    val measureStart = nowMs
    for (i <- 0 until timedPasses) {
      val traced = plan.traced && Set(1, 2).contains(i % 4)
      if (traced) attach(recorder)
      runPass(warmupPasses + i, plan.passes(warmupPasses + i), checked = false, traced)
      if (traced) detach(recorder)
    }
    val measuredS = (nowMs - measureStart) / 1e3
    val rec = Map[String, Any](
      "workload" -> plan.workload, "cpus" -> cpus, "warmup_passes" -> warmupPasses,
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
      "session_cpu_s" -> sessionCpuS, "prep_s" -> prep.map(_._1), "prep_cpu_s" -> prep.map(_._2),
      "warmup_s" -> warmup._1, "warmup_cpu_s" -> warmup._2, "measured_s" -> measuredS,
      "passes" -> passRecords, "ops" -> opRecords, "checks" -> checks,
      "peak_rss_kb" -> procField("/proc/self/status", "VmHWM:"),
      "oracles" -> plan.passes.head.collect {
        case Op("query", q) if catalog.get(q).exists(_.oracle.isDefined) => q -> catalog(q).oracle.get
      }.toMap,
      "spans" -> spans) ++ (if (plan.traced) recorderRecord(recorder) else Map.empty)
    spark.stop()
    rec
  }

  /** Wall and process CPU seconds of `body`. */
  private def timed(body: => Unit): (Double, Double) = {
    val t = nowMs
    val c = os.getProcessCpuTime
    body
    ((nowMs - t) / 1e3, (os.getProcessCpuTime - c) / 1e9)
  }

  /** The input-table check: the part of set-up a run repeats. */
  private def checkFixture(): Unit = {
    val problems = Tables.fixtureProblems(spark, data)
    if (problems.nonEmpty)
      throw new IllegalStateException("input tables incompatible:\n  " + problems.mkString("\n  "))
  }

  private def attach(r: Recorder): Unit = {
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
  }

  private def detach(r: Recorder): Unit = {
    ListenerShim.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(r)
    spark.listenerManager.unregister(r)
  }

  private def runPass(p: Int, ops: Seq[Op], checked: Boolean, traced: Boolean): Unit = {
    val passSpan = nextSpan
    val cpu0 = os.getProcessCpuTime
    val io0 = io()
    val start = nowMs
    span("pass", -1, -1) {
      ops.foreach(op => runOp(op, p, passSpan, checked, traced))
    }
    val end = nowMs
    val io1 = io()
    // direct table resolutions, after the pass so that they do not count
    // in its wall time (the tracing overhead is traced minus untraced pass)
    if (traced) plan.conf.get("probe").toSeq.flatMap(_.split(",")).foreach { t =>
      span("tables.resolve", -1, -1) { resolve(t) }
    }
    // only the latest lake is kept, for the output check
    if (ops.exists(_.kind == "stage") && p > 0)
      deleteRecursively(new File(s"$work/lake/p${p - 1}"))
    if (ops.exists(_.kind == "ingest")) checks += indexCheck(p)
    passRecords += Map("pass" -> p, "traced" -> traced, "start" -> start, "end" -> end,
      "wall_s" -> (end - start) / 1e3, "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
      "rchar" -> (io1._1 - io0._1), "wchar" -> (io1._2 - io0._2),
      "state_bytes" -> plan("state").split(",").map(d =>
        dirBytes(new File(s"$work/${d.replace("{pass}", p.toString)}"))).sum)
  }

  private def resolve(table: String): Unit = table match {
    case "events" => Tables.events(spark, data).schema: Unit
    case t        => Tables.table(spark, data, t).schema: Unit
  }

  private def runOp(op: Op, p: Int, parent: Int, checked: Boolean, traced: Boolean): Unit = {
    val id = opCount; opCount += 1
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", op.name, interruptOnCancel = false)
    val opSpan = nextSpan
    val io0 = io()
    val start = nowMs
    var result: Option[DataFrame] = None
    val error: Option[String] =
      try {
        span(op.name, parent, id) { result = execute(op, p, opSpan, id, checked) }
        None
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] op ${op.name} (pass $p) FAILED: " +
          String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | "))
        Some(e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300))
      }
    val end = nowMs
    val io1 = io()
    sc.setJobGroup("check", "output checks", interruptOnCancel = false)
    if (error.isEmpty) result.foreach(v => checks += verdictCheck(op.kind, p, v))
    val leftover = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.clearJobGroup()
    opRecords += Map("id" -> id, "pass" -> p, "name" -> op.name, "kind" -> op.kind,
      "ok" -> error.isEmpty, "error" -> error, "start" -> start, "end" -> end,
      "wall_s" -> (end - start) / 1e3, "traced" -> traced,
      "rchar" -> (io1._1 - io0._1), "wchar" -> (io1._2 - io0._2),
      "leftover_cached" -> leftover)
  }

  /** Calls the engine for one op; store ops return their settled verdict
    * or receipt frame for the output check. */
  private def execute(op: Op, p: Int, opSpan: Int, id: Int, checked: Boolean): Option[DataFrame] =
    op.kind match {
      case "query" =>
        val q = catalog.getOrElse(op.arg, sys.error(s"no catalog query ${op.arg}"))
        val df = span("queries.build", opSpan, id) { q.run(spark, data) }
        span("ops.exec", opSpan, id) {
          if (checked) df.coalesce(1).write.mode("overwrite").parquet(s"$work/out/${op.arg}")
          else df.write.format("noop").mode("overwrite").save()
        }
        None
      case "stage" =>
        val lake = s"$work/lake/p$p"
        op.arg match {
          case "1" => Pipeline.runStage1GeoEnrich(spark, data, lake)
          case "2" => Pipeline.runStage2UserCity(spark, lake)
          case "3" => Pipeline.runStage3ZoneReport(spark, lake)
          case "4" => Pipeline.runStage4Recommendations(spark, lake)
        }
        None
      case "ingest" =>
        Some(StreamingOps.deltaDedupVerifiedBatch(
          spark.read.parquet(op.arg), index, DedupQueries.JaccardThreshold))
      case "forget_logical" =>
        Some(StreamingOps.forgetBatchLogical(spark.read.parquet(op.arg), index))
      case "forget" =>
        Some(StreamingOps.forgetBatch(spark.read.parquet(op.arg), index))
      case "compact" =>
        DedupOps.compactSignatureIndex(spark, index)
        None
      case other => sys.error(s"unknown op kind $other")
    }

  /** Verdict counts of an ingest (keep/drop) or receipt counts of a forget
    * (was_indexed true/false). */
  private def verdictCheck(kind: String, p: Int, v: DataFrame): Map[String, Any] = {
    val key = if (v.columns.contains("verdict")) col("verdict") else col("was_indexed").cast("string")
    val counts = v.groupBy(key.as("k")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Map("kind" -> kind, "pass" -> p, "counts" -> counts)
  }

  /** Row counts of the signature index's two tables. */
  private def indexCheck(p: Int): Map[String, Any] = {
    def rows(t: String) = spark.read.parquet(s"$index/$t").count()
    Map("kind" -> "index", "pass" -> p, "sigs" -> rows("sigs"), "bands" -> rows("bands"))
  }

  private def recorderRecord(r: Recorder): Map[String, Any] = r.synchronized {
    def c(t: TaskCounters) = Map("jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
      "task_failures" -> t.taskFailures, "sched_delay_ms" -> t.schedDelayMs,
      "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs,
      "input_bytes" -> t.inputBytes, "shuffle_write_bytes" -> t.shuffleWriteBytes,
      "shuffle_read_bytes" -> t.shuffleReadBytes, "spill_bytes" -> t.spillBytes)
    Map(
      "counters" -> r.counters.map { case (g, t) => g -> c(t) },
      "jobs" -> r.jobs.map { case (id, j) =>
        Map("id" -> id, "group" -> j.group, "start" -> j.startMs, "end" -> j.endMs) },
      "executions" -> r.executions.map(e => Map(
        "phases" -> e.phases.map { case (k, (s, t)) => k -> Seq(s, t) },
        "scans" -> e.scans, "sink_bytes" -> e.sinkBytes, "sink_files" -> e.sinkFiles,
        "sink_records" -> e.sinkRecords)),
      "writes" -> r.writes.values.map { case (s, t) => Seq(s, t) })
  }

  private def io(): (Long, Long) =
    (procField("/proc/self/io", "rchar:"), procField("/proc/self/io", "wchar:"))

  private def procField(path: String, key: String): Long =
    try Files.readAllLines(Paths.get(path)).toArray(Array.empty[String])
      .find(_.startsWith(key)).map(_.drop(key.length).trim.split("\\s+")(0).toLong)
      .getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
