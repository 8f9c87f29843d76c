package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, HashJoin}

import graft.NoopRun

/** Plan dumps of catalog queries, in two forms.
  *
  * With query names: `.explain("formatted")` of each named query to
  * outDir/query_suffix.txt. Each query runs first (its rows are dropped),
  * so the dump shows the final adaptive plan, with the stages and
  * partition counts AQE picked at run time, above the initial one.
  *
  * With none: the whole catalog, each query built and written to the noop
  * sink under [[NoopRun.traced]], to outDir/joins_suffix.tsv. One line per
  * query: its name, the join operators of every plan it executed (the
  * builder's eager actions included; [[joins]]) and their exchanges (kind
  * and partitioning, a hash partitioning's keys sorted;
  * [[NoopRun.exchangesOf]]), each list `; `-separated. The plans are the
  * ones AQE started from ([[initialNodes]]): they are what a change to a
  * query's code changes, and they are the same on every run, so two such
  * files diff a change's plans query by query. outDir/final_suffix.tsv
  * holds the same lines for the final adaptive plans ([[NoopRun.nodes]]).
  * Those are what ran, but AQE re-plans a build side, or demotes a
  * broadcast, from the sizes of the stages that finished first, so they
  * can differ from run to run: compare a change's final plans with the
  * set a few runs of its parent produced.
  *
  * Usage: runMain graft.tools.PlanDump sfDir outDir suffix [query...]
  * Session shape mirrors graft.Bench ([[graft.Sessions.local]]: one
  * shuffle partition per core) so the plans are the ones the bench
  * actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, suffix, names @ _*) = args.toSeq.toArray: @unchecked
    val spark = graft.Sessions.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = graft.SparkEntry.queries
    if (names.isEmpty) {
      val out = new java.io.PrintWriter(s"$outDir/joins_$suffix.tsv", "UTF-8")
      val fin = new java.io.PrintWriter(s"$outDir/final_$suffix.tsv", "UTF-8")
      try graft.SparkEntry.catalog.map(_.name).foreach { n =>
        val t = NoopRun.traced(spark) {
          val df = qs(n)(spark, dir)
          try df.write.format("noop").mode("overwrite").save()
          finally graft.ops.Checkpoints.discard(df)
        }
        spark.catalog.clearCache()
        def line(ns: Seq[SparkPlan]) = Seq(n, joins(ns).mkString("; "), NoopRun.exchangesOf(ns)
          .map(e => s"${e.kind} ${sortedKeys(e.partitioning)}".trim).mkString("; ")).mkString("\t")
        out.println(line(initialNodes(t.plans)))
        fin.println(line(NoopRun.nodes(t.plans)))
        out.flush()
        fin.flush()
      } finally { out.close(); fin.close() }
    } else names.foreach { n =>
      val qe = qs(n)(spark, dir).queryExecution
      qe.toRdd.foreach(_ => ())
      val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** Every node of the plans executed plans started from: each adaptive
    * plan (subqueries and the plans of cached relations included) as AQE
    * first planned it, from static size estimates, before any query stage
    * ran and re-planned the rest. A cached relation's plan is walked once,
    * where it is first scanned, as [[NoopRun.nodes]] walks final plans. */
  def initialNodes(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val cached = new java.util.IdentityHashMap[SparkPlan, Unit]()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case s: InMemoryTableScanExec if !cached.containsKey(s.relation.cachedPlan) =>
        cached.put(s.relation.cachedPlan, ())
        s +: walk(s.relation.cachedPlan)
      case n => n +: (n.children ++ n.subqueries).flatMap(walk)
    }
    plans.flatMap(walk)
  }

  /** Every join operator among plan nodes, in order, as its node name,
    * join type and build side: `BroadcastHashJoin(Inner,BuildRight)`,
    * `SortMergeJoin(LeftSemi)`, `CartesianProduct(Inner)`. */
  def joins(ns: Seq[SparkPlan]): Seq[String] = ns.collect {
    case j: HashJoin => s"${j.nodeName}(${j.joinType},${j.buildSide})"
    case j: BroadcastNestedLoopJoinExec => s"${j.nodeName}(${j.joinType},${j.buildSide})"
    case j: BaseJoinExec => s"${j.nodeName}(${j.joinType})"
  }

  private val HashKeys = """^hashpartitioning\((.*), (\d+)\)$""".r

  /** `hashpartitioning(b, a, 4)` as `hashpartitioning(a, b, 4)`: the key
    * order of a distinct-aggregate rewrite follows expression ids, which
    * differ from run to run. */
  private def sortedKeys(partitioning: String): String = partitioning match {
    case HashKeys(keys, n) => s"hashpartitioning(${keys.split(", ").sorted.mkString(", ")}, $n)"
    case other => other
  }
}
