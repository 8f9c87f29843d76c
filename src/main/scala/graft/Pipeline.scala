package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CollectOps, GeoOps, Sinks, TimeOps, WindowOps}
import graft.queries.GeoPipeline

/** The reference's materialized 4-stage lake flow (reports_dag.py:65 —
  * `mes_geo >> user_city >> zone >> recs`) as one runnable pipeline:
  *
  *   raw events ──stage1──▶ interim/mes_geo (overwrite parquet)
  *   interim    ──stage2──▶ analytics/user_city
  *   interim    ──stage3──▶ analytics/zone_report (partitioned by week)
  *   interim    ──stage4──▶ analytics/recommendations
  *
  * Stages 2–4 read the MATERIALIZED interim, exactly like the reference
  * (save_mes_geo.py:50 writes; calculate_user_city.py:15 etc. read) — the
  * idempotent-full-refresh layered-lake architecture (SURVEY.md §1.1).
  * Mart logic is shared with the oracle-checked query catalog via the
  * `…From(enriched)` builders in GeoPipeline.
  *
  * Usage: runMain graft.Pipeline <sfDir> <lakeDir>
  */
object Pipeline {

  val InterimPath = "interim/mes_geo"

  def runStage1GeoEnrich(spark: SparkSession, sfDir: String, lake: String): Unit =
    Sinks.writeMart(GeoPipeline.enriched(spark, sfDir), s"$lake/$InterimPath")

  def interim(spark: SparkSession, lake: String): DataFrame =
    spark.read.parquet(s"$lake/$InterimPath")

  /** Incremental stage 1 — the 100 TB upgrade over the reference's full
    * refresh: enrich ONLY the `depthDays`-day window of a date-partitioned
    * events root (partition-pruned scan, Sinks.readDateWindow) and
    * dynamic-overwrite exactly those `date=` partitions of the interim
    * (Sinks.overwritePartitions). Days outside the window are untouched;
    * re-running a day is idempotent. `enrich` maps a raw window batch to
    * its enriched form (the same builder stage 1 uses). */
  def runStage1Incremental(spark: SparkSession, eventsRoot: String,
                           lake: String, endDate: String, depthDays: Int)
                          (enrich: DataFrame => DataFrame): Unit = {
    val window = Sinks.readDateWindow(spark, eventsRoot, "date", endDate, depthDays)
    Sinks.overwritePartitions(enrich(window), s"$lake/$InterimPath", Seq("date"))
  }

  def runStage2UserCity(spark: SparkSession, lake: String): Unit = {
    val mes = interim(spark, lake)
    val act = GeoPipeline.actPositionFrom(mes)
      .select(col("user_id"), col("zone_name").as("act_zone"),
        TimeOps.localTimeByOffset(col("ts"), col("lon_z")).as("local_time"))
    val v = GeoPipeline.visitsFrom(mes).persist()
    val home = WindowOps.topKPerKey(
      WindowOps.gapDaysToNext(v, Seq("user_id"), "visit_date")
        .where(col("gap_days") >= GeoPipeline.HomeStayDays),
      Seq("user_id"), Seq(col("visit_date").desc), 1)
      .select(col("user_id"), col("zone_name").as("home_zone"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("visit_date")
    val travel = v.withColumn("prev_zone", lag(col("zone_id"), 1).over(w))
      .where(col("prev_zone").isNull || col("zone_id") =!= col("prev_zone"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("travel_count"),
        CollectOps.orderedCollect(col("visit_date"), col("zone_name")).as("travel_array"))
    val mart = act.join(home, Seq("user_id"), "left").join(travel, Seq("user_id"), "left")
    Sinks.writeMart(mart, s"$lake/analytics/user_city")
    v.unpersist()
  }

  def runStage3ZoneReport(spark: SparkSession, lake: String): Unit = {
    val b = interim(spark, lake)
      .withColumn("week", weekofyear(col("ts")).cast("long"))
      .withColumn("month", month(col("ts")).cast("long"))
      .select("user_id", "event_id", "ts", "event_type", "zone_id", "week", "month")
      .persist()
    val types = GeoPipeline.EventTypes
    val wk = CollectOps.pivotCounts(
      b.groupBy("week", "month", "zone_id"), "event_type", types, "week_")
    val mo = wk.groupBy("month", "zone_id")
      .agg(sum(s"week_${types.head}").as(s"month_${types.head}"),
        types.tail.map(t => sum(s"week_$t").as(s"month_$t")): _*)
    val regs = WindowOps.firstPerKey(b, Seq("user_id"), Seq(col("ts"), col("event_id")))
    val rw = regs.groupBy("week", "zone_id").agg(count(lit(1)).as("week_user"))
    val rm = regs.groupBy("month", "zone_id").agg(count(lit(1)).as("month_user"))
    val mart = wk.join(mo, Seq("month", "zone_id"))
      .join(rw, Seq("week", "zone_id"), "left")
      .join(rm, Seq("month", "zone_id"), "left")
      .na.fill(0L, Seq("week_user", "month_user"))
    // reference partitions the zone mart by week (calculate_zone_report.py:60)
    Sinks.writePartitioned(mart, s"$lake/analytics/zone_report", Seq("week"))
    b.unpersist()
  }

  def runStage4Recommendations(spark: SparkSession, lake: String): Unit = {
    val mes = interim(spark, lake)
    val subs = mes.where(col("event_type") === "signup")
      .select(col("user_id"),
        (get_json_object(col("props"), "$.k").cast("long") % GeoPipeline.RecsChannels)
          .as("channel"))
      .distinct()
    val act = GeoPipeline.actPositionFrom(mes)
    val subsZ = subs.join(broadcast(act.select(col("user_id"), col("zone_id"),
      col("ts"), col("lat_e"), col("lon_e"), col("lon_z"))), Seq("user_id"))
    val al = subsZ.select(col("user_id").as("user_left"), col("channel"),
      col("zone_id"), col("ts").as("ts_l"),
      col("lat_e").as("lat_l"), col("lon_e").as("lon_l"), col("lon_z").as("lon_z_l"))
    val ar = subsZ.select(col("user_id").as("user_right"), col("channel"),
      col("zone_id"), col("lat_e").as("lat_r"), col("lon_e").as("lon_r"))
    val mart = al.join(ar, Seq("channel", "zone_id"))
      .where(col("user_left") < col("user_right"))
      .withColumn("dist_km",
        GeoOps.haversineKm(col("lat_l"), col("lon_l"), col("lat_r"), col("lon_r")))
      .where(col("dist_km") <= GeoPipeline.RecsRadiusKm)
      .select(col("user_left"), col("user_right"), col("channel"),
        col("zone_id"), col("dist_km"),
        TimeOps.localTimeByOffset(col("ts_l"), col("lon_z_l")).as("local_time"),
        // mart refresh stamp (reference F6, calculate_user_recommendations
        // .py:43) — fine here; oracle-checked queries avoid it (§5.1)
        current_date().as("processed_dttm"))
    Sinks.writeMart(mart, s"$lake/analytics/recommendations")
  }

  /** Full refresh, reference task order. */
  def runAll(spark: SparkSession, sfDir: String, lake: String): Unit = {
    runStage1GeoEnrich(spark, sfDir, lake)
    runStage2UserCity(spark, lake)
    runStage3ZoneReport(spark, lake)
    runStage4Recommendations(spark, lake)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, lake) = args.take(2)
    val spark = Sessions.local()
    runAll(spark, sfDir, lake)
    println(s"[pipeline] lake refreshed at $lake")
    spark.stop()
  }
}
