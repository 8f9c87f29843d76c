package graft

import graft.ops.ClusterStore
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins the fmt-2 cluster-store merge's ONE-READ probe shape — a plan
  * property nothing asserted before (the r17 win: the stored-evidence
  * presence probe rides the SAME pruned collect as the by_doc label
  * lookup, as a UNION — where the r16 layout paid two sequential jobs,
  * the second unable to start until the first resolved). A regression
  * re-introducing the second read would only have shown as bench drift;
  * this spec fails on it structurally: on the replay hot path, EXACTLY
  * one executed plan scans `by_doc`, and that same plan scans `edges`.
  *
  * Captured via a [[QueryExecutionListener]] (the probe runs inside the
  * side-effecting merge op, so there is no returned DataFrame to
  * inspect); the listener bus is async, so the capture polls to
  * quiescence before asserting. Plans are matched on this store's
  * unique path — concurrent suite activity cannot pollute the count. */
class MergeProbePlanSpec extends SparkSpec {
  import spark.implicits._

  test("replay merge: ONE executed plan scans by_doc, and it also scans " +
      "edges (the fmt-2 union probe — not the r16 two-read shape)") {
    val p = graft.ops.Staging.dir("/tmp/graft_probe_plan",
      "/root/testdata/sf0.001", "store")
    // a store with real content and stored evidence
    ClusterStore.merge(
      Seq(1L, 2L, 3L, 4L, 5L).toDF("id"),
      Seq((1L, 2L), (2L, 3L)).toDF("id_l", "id_r"), p)
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        captured.add(qe.executedPlan.toString): Unit
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // REPLAY: every pair stored, every doc present — the hot path is
      // the lookup+probe collect and nothing else
      ClusterStore.merge(
        Seq(4L).toDF("id"), Seq((2L, 3L)).toDF("id_l", "id_r"), p).count()
      // drain the async listener bus: poll until the capture is quiet
      var last = -1
      var quietMs = 0
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (quietMs < 1000 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        if (captured.size == last) quietMs += 100
        else { last = captured.size; quietMs = 0 }
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val plans = captured.asScala.toSeq
    val byDocScans = plans.filter(_.contains(s"$p/by_doc"))
    assert(byDocScans.size == 1,
      s"expected EXACTLY one executed plan scanning by_doc on the replay " +
        s"hot path, got ${byDocScans.size} — the fmt-2 one-read probe " +
        s"regressed to a multi-read shape\n${byDocScans.mkString("\n====\n")}")
    assert(byDocScans.head.contains(s"$p/edges"),
      s"the by_doc lookup plan does not also scan edges — the presence " +
        s"probe has been split back out into its own read:\n${byDocScans.head}")
    assert(byDocScans.head.contains("Union"),
      s"expected the union probe shape in:\n${byDocScans.head}")
  }
}
