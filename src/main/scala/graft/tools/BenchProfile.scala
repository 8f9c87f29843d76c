package graft.tools

import org.apache.spark.scheduler._

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query execution-shape profiler (guide §1/§7, headless stand-in for
  * the Spark UI): runs catalog queries exactly like graft.Bench (noop sink,
  * clearCache between) with a SparkListener recording, per query,
  *   jobs / stages / tasks launched,
  *   summed executor run time (the "real work"),
  *   shuffle bytes written,
  *   Janino compilations (compiled-class cache misses),
  * so wall − maxTaskTime-ish gaps expose scheduling/planning overhead and
  * task counts expose over-partitioned stages. Output: one TSV line per
  * query on stdout (grep for ^[profile]).
  *
  * Usage: runMain graft.tools.BenchProfile <sfDir> [query...]
  *        (no names = whole catalog)
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local()

    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val inputBytes = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(): Unit
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskTimeMs.addAndGet(m.executorRunTime)
          inputBytes.addAndGet(m.inputMetrics.bytesRead): Unit
        }
      }
    })

    val qs = graft.SparkEntry.queries
    val names = if (args.length > 1) args.tail.toSeq
                else qs.keys.toSeq.sorted
    // one warmup like Bench
    try { graft.SparkEntry.entry(spark).count() } catch { case _: Throwable => }
    println("[profile]\tquery\twall_s\tcompiles\tjobs\tstages\ttasks\ttask_time_s\tshuffle_mb\tinput_mb")
    for (name <- names) {
      stages.set(0); tasks.set(0); taskTimeMs.set(0); inputBytes.set(0)
      try {
        val t = graft.NoopRun(spark)(qs(name)(spark, dir))
        // listener bus is async; drain it deterministically so no event
        // lands after the read or bleeds into the next query's counters
        // (a fixed sleep raced the bus under load)
        org.apache.spark.graftshim.ListenerShim
          .waitUntilListenerBusEmpty(spark.sparkContext)
        println(f"[profile]\t$name\t${t.seconds}%.3f\t${t.compiles}\t${t.jobs}\t${stages.get}\t${tasks.get}\t${taskTimeMs.get / 1000.0}%.2f\t${t.shuffleBytes / 1e6}%.2f\t${inputBytes.get / 1e6}%.2f")
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name FAILED: ${String.valueOf(e.getMessage).take(160)}")
      }
    }
    spark.stop()
  }
}
