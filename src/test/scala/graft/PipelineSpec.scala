package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.queries.GeoPipeline

/** End-to-end lake-flow test (SURVEY.md §5.4): full 4-stage refresh at
  * sf0.001 into a temp lake, then structural + referential assertions on
  * the materialized interim and marts, their parity with the catalog
  * entries, and what the refresh leaves cached or hinted. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val lake = {
    val dir = Files.createTempDirectory("graft-lake").toString
    spark.catalog.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Pipeline.runAll(spark, sf, dir)
    cacheEmptyAfterRefresh = spark.sharedState.cacheManager.isEmpty
    newPersistentRdds = (spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds).size
    dir
  }
  // what the refresh above left behind, from an empty cache
  private var cacheEmptyAfterRefresh = false
  private var newPersistentRdds = -1

  test("driver entry smoke: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("stage 1 materializes the enriched interim with zone columns") {
    val mes = spark.read.parquet(s"$lake/interim/mes_geo")
    assert(mes.count() === 1000) // all sf0.001 events
    assert(Seq("event_id", "user_id", "ts", "zone_id", "zone_name", "dist_km", "lon_z")
      .forall(mes.columns.contains))
    assert(mes.where($"zone_id".isNull).count() === 0)
  }

  test("user_city mart: one row per user, travel_count matches array size") {
    val mart = spark.read.parquet(s"$lake/analytics/user_city")
    val nUsers = spark.read.parquet(s"$sf/events.parquet").select("user_id").distinct().count()
    assert(mart.count() === nUsers)
    assert(mart.select("user_id").distinct().count() === nUsers)
    val bad = mart.where($"travel_count".isNotNull &&
      $"travel_count" =!= size($"travel_array")).count()
    assert(bad === 0)
  }

  test("zone_report mart is hive-partitioned by week and internally consistent") {
    val root = new java.io.File(s"$lake/analytics/zone_report")
    assert(root.list().exists(_.startsWith("week=")))
    val mart = spark.read.parquet(s"$lake/analytics/zone_report")
    // rows are unique per (week, month, zone); weekly counts must sum to
    // the month totals carried on every row of that (month, zone)
    val mismatch = mart.groupBy("month", "zone_id")
      .agg(sum("week_click").as("s"), max("month_click").as("m"))
      .where($"s" =!= $"m").count()
    assert(mismatch === 0)
  }

  test("recommendations mart: canonical pairs within radius, users exist") {
    val mart = spark.read.parquet(s"$lake/analytics/recommendations")
    assert(mart.where($"user_left" >= $"user_right").count() === 0)
    assert(mart.where($"dist_km" > queries.GeoPipeline.RecsRadiusKm).count() === 0)
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select($"user_id").distinct().as[Long].collect().toSet
    val martUsers = mart.select($"user_left").as[Long].collect().toSet ++
      mart.select($"user_right").as[Long].collect().toSet
    assert(martUsers.subsetOf(users))
  }

  test("refresh is idempotent (second run overwrites, same row counts)") {
    val before = spark.read.parquet(s"$lake/analytics/user_city").count()
    Pipeline.runStage2UserCity(spark, lake)
    val after = spark.read.parquet(s"$lake/analytics/user_city").count()
    assert(before === after)
  }

  test("incremental stage 1 refreshes only the date window, idempotently") {
    // date-partitioned events root: 4 days of synthetic rows
    val root = Files.createTempDirectory("graft-evroot").toString + "/events"
    val ilake = Files.createTempDirectory("graft-ilake").toString
    def day(d: String, ids: Seq[Long], tag: String) =
      ids.map(i => (d, i, s"$tag$i")).toDF("date", "event_id", "payload")
    ops.Sinks.writePartitioned(
      day("2024-01-01", Seq(1L, 2L), "a")
        .union(day("2024-01-02", Seq(3L), "a"))
        .union(day("2024-01-03", Seq(4L, 5L), "a"))
        .union(day("2024-01-04", Seq(6L), "a")),
      root, Seq("date"))
    // "enrichment" = any per-batch transform; keep it inspectable
    val enrich = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("enriched_at_run", lit(currentRun))
    // run 1: days 2..3
    currentRun = 1
    Pipeline.runStage1Incremental(spark, root, ilake, "2024-01-03", 2)(enrich)
    val i1 = spark.read.parquet(s"$ilake/interim/mes_geo")
    assert(i1.select($"date").distinct().as[String].collect().toSet ===
      Set("2024-01-02", "2024-01-03"))
    // run 2: days 3..4 — day 2 must survive untouched from run 1
    currentRun = 2
    Pipeline.runStage1Incremental(spark, root, ilake, "2024-01-04", 2)(enrich)
    val i2 = spark.read.parquet(s"$ilake/interim/mes_geo")
    val byRun = i2.groupBy("date").agg(max("enriched_at_run").as("run"))
      .as[(String, Int)].collect().toMap
    assert(byRun === Map("2024-01-02" -> 1, "2024-01-03" -> 2, "2024-01-04" -> 2))
    assert(i2.count() === 4) // ids 3,4,5,6 — day 1 never loaded
  }
  private var currentRun: Int = 0

  test("runAll leaves no new cache entry and no new persistent RDD") {
    assert(lake.nonEmpty)
    assert(cacheEmptyAfterRefresh)
    assert(newPersistentRdds === 0)
  }

  // Lake ↔ catalog parity: each mart read back and put through its catalog
  // projection equals the oracle-checked entry row for row.
  private def assertSameRows(lakeMart: DataFrame, catalog: DataFrame): Unit = {
    try {
      def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
      assert(shape(lakeMart) === shape(catalog))
      val rows = lakeMart.collect().toSeq
      assert(rows.nonEmpty)
      assert(rows === catalog.collect().toSeq)
    } finally spark.catalog.clearCache()
  }

  test("analytics/user_city through its projection equals user_city_mart") {
    assertSameRows(
      GeoPipeline.userCityExport(spark.read.parquet(s"$lake/analytics/user_city")),
      GeoPipeline.userCityMart.run(spark, sf))
  }

  test("analytics/zone_report through its projection equals zone_report") {
    val mart = spark.read.parquet(s"$lake/analytics/zone_report")
    assertSameRows(GeoPipeline.zoneReportExport(mart), GeoPipeline.zoneReport.run(spark, sf))
  }

  test("analytics/recommendations through its projection equals recommendations") {
    assertSameRows(
      GeoPipeline.recommendationsExport(spark.read.parquet(s"$lake/analytics/recommendations")),
      GeoPipeline.recommendations.run(spark, sf))
  }

  test("stage 4 writes recommendations with no strategy hint on a user-grain join") {
    // PlanSpec pins the r8 rule on the catalog entry; stage 4 returns no
    // DataFrame, so its written plan is captured with a listener
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.add(qe.optimizedPlan): Unit
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    val written = s"$lake/analytics/recommendations"
    spark.listenerManager.register(listener)
    try {
      Pipeline.runStage4Recommendations(spark, lake)
      org.apache.spark.graftshim.ListenerShim.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val plans = captured.asScala.toSeq.filter(_.toString.contains(written))
    assert(plans.nonEmpty, "stage 4's write was not captured")
    assert(plans.flatMap(_.collect { case j: Join => j }).nonEmpty)
    val hinted = plans.flatMap(PlanSpec.hintedUserJoins)
    assert(hinted.isEmpty, s"broadcast hint on a user-grain join: ${hinted.mkString("\n")}")
  }
}
