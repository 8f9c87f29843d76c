package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange => ExchangeExec,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed run of a query the way graft.Bench times it: build the frame,
  * write every row to the noop sink, then release the settled frames it
  * read and clear the cache outside the timed region. Shared by Explain
  * and the dev tools; Bench keeps its own copy (the driver contract). */
object NoopRun {
  /** Wall seconds of the build and write, the Janino compilations (misses
    * of Spark's compiled-class cache) they caused, every exchange of the
    * plans the run executed, and the shuffle bytes its tasks wrote and the
    * Spark jobs it started (every job of the run, the builder's eager ones
    * included). */
  final case class Timed(seconds: Double, compiles: Long, exchanges: Seq[Exchange],
                         shuffleBytes: Long, jobs: Int)

  /** What [[traced]] saw a body do: its result, the executed plan of every
    * Dataset action and command it ran (writes, counts, checkpoints), the
    * shuffle bytes its tasks wrote and the Spark jobs it started. */
  final case class Trace[T](result: T, plans: Seq[SparkPlan], shuffleBytes: Long, jobs: Int)

  /** One exchange of an executed plan: `shuffle` or `broadcast`, a
    * shuffle's partitioning with expression ids stripped
    * (`hashpartitioning(user_id, 4)`), the columns it carries, the
    * shuffle bytes it wrote (0 for a broadcast) and how many plan sites
    * read it (more than 1 when Spark reused it). */
  final case class Exchange(kind: String, partitioning: String, columns: Seq[String],
                            shuffleBytes: Long, reads: Int) {
    override def toString: String =
      f"$kind%-9s $shuffleBytes%10d B  reads=$reads  $partitioning [${columns.mkString(", ")}]"
  }

  def apply(spark: SparkSession)(build: => DataFrame): Timed = {
    val c0 = compiles()
    try {
      // timed up to the end of the write, not of the listener-bus drains
      val t = traced(spark) {
        val t0 = System.nanoTime()
        val df = build
        try {
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } finally graft.ops.Checkpoints.discard(df)
      }
      Timed(t.result, compiles() - c0, exchanges(t.plans), t.shuffleBytes, t.jobs)
    } finally spark.catalog.clearCache()
  }

  /** Runs `body` and returns its [[Trace]]. Drains the listener bus before
    * and after `body` (events of earlier actions would otherwise reach its
    * listeners), so use it in tools and specs, never on a query path. */
  def traced[T](spark: SparkSession)(body: => T): Trace[T] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val bytes = new AtomicLong()
    val jobs = new AtomicInteger()
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val tasks = new SparkListener {
      override def onJobStart(start: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onTaskEnd(end: SparkListenerTaskEnd): Unit =
        Option(end.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    val sc = spark.sparkContext
    ListenerShim.waitUntilListenerBusEmpty(sc)
    spark.listenerManager.register(qel)
    sc.addSparkListener(tasks)
    try {
      val out = body
      ListenerShim.waitUntilListenerBusEmpty(sc)
      Trace(out, plans.asScala.toSeq, bytes.get, jobs.get)
    } finally {
      spark.listenerManager.unregister(qel)
      sc.removeSparkListener(tasks)
    }
  }

  /** Every exchange of executed plans, AQE query stages, subqueries and
    * the plans of cached relations they scan included, each counted once
    * (a reused exchange counts as one more read of its original; a cached
    * relation scanned by several plans, once). */
  def exchanges(plans: Seq[SparkPlan]): Seq[Exchange] = exchangesOf(nodes(plans))

  /** The exchanges among plan nodes (as [[nodes]] lists them), each
    * counted once. */
  def exchangesOf(ns: Seq[SparkPlan]): Seq[Exchange] = {
    val seen = new java.util.IdentityHashMap[ExchangeExec, Int]()
    val order = scala.collection.mutable.ArrayBuffer.empty[ExchangeExec]
    def read(e: ExchangeExec): Unit = {
      if (!seen.containsKey(e)) order += e
      seen.put(e, seen.getOrDefault(e, 0) + 1): Unit
    }
    ns.foreach {
      case r: ReusedExchangeExec => read(r.child)
      case e: ExchangeExec => read(e)
      case _ =>
    }
    order.toSeq.map { e =>
      val (kind, partitioning, bytes) = e match {
        case s: ShuffleExchangeLike =>
          ("shuffle", s.outputPartitioning.toString.replaceAll("#\\d+L?", ""),
            s.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L))
        case _: BroadcastExchangeLike => ("broadcast", "", 0L)
        case _ => (e.nodeName, "", 0L)
      }
      Exchange(kind, partitioning, e.output.map(_.name), bytes, seen.get(e))
    }
  }

  /** Every node of executed plans, AQE query stages, subqueries and the
    * plans of cached relations they scan included; a cached relation's
    * plan is walked once, where it is first scanned. */
  def nodes(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val cached = new java.util.IdentityHashMap[SparkPlan, Unit]()
    def walk(p: SparkPlan): Seq[SparkPlan] = Walker.nodes(p).flatMap {
      case s: InMemoryTableScanExec if !cached.containsKey(s.relation.cachedPlan) =>
        cached.put(s.relation.cachedPlan, ())
        s +: walk(s.relation.cachedPlan)
      case n => Seq(n)
    }
    plans.flatMap(walk)
  }

  private object Walker extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
  }

  /** Janino compilations in this JVM so far. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
