package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_date
import graft.ops.Sinks
import graft.queries.GeoPipeline

/** The reference's materialized 4-stage lake flow (reports_dag.py:65 —
  * `mes_geo >> user_city >> zone >> recs`) as one runnable pipeline:
  *
  *   raw events ──stage1──▶ interim/mes_geo            GeoPipeline.enriched
  *   interim    ──stage2──▶ analytics/user_city        GeoPipeline.userCityFrom
  *   interim    ──stage3──▶ analytics/zone_report      GeoPipeline.zoneReportFrom
  *                          (partitioned by week)
  *   interim    ──stage4──▶ analytics/recommendations  GeoPipeline.recommendationsFrom
  *
  * Stages 2–4 read the MATERIALIZED interim, exactly like the reference
  * (save_mes_geo.py:50 writes; calculate_user_city.py:15 etc. read) — the
  * idempotent-full-refresh layered-lake architecture (SURVEY.md §1.1).
  * This file holds no mart logic: each stage writes the GeoPipeline
  * builder whose projection is the oracle-checked catalog entry
  * (user_city_mart, zone_report, recommendations).
  *
  * Usage: runMain graft.Pipeline <sfDir> <lakeDir>
  */
object Pipeline {

  val InterimPath = "interim/mes_geo"

  def runStage1GeoEnrich(spark: SparkSession, sfDir: String, lake: String): Unit =
    Sinks.writeMart(GeoPipeline.enriched(spark, sfDir), s"$lake/$InterimPath")

  /** The materialized interim; stages 2–4 read it through the table
    * schema registry, so a refresh infers its schema once. */
  def interim(spark: SparkSession, lake: String): DataFrame =
    Tables.parquet(spark, s"$lake/$InterimPath")

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
    val v = GeoPipeline.visitsFrom(mes).persist()
    Sinks.writeMart(GeoPipeline.userCityFrom(mes, v), s"$lake/analytics/user_city")
    v.unpersist()
  }

  def runStage3ZoneReport(spark: SparkSession, lake: String): Unit = {
    val b = GeoPipeline.zoneEventsFrom(interim(spark, lake)).persist()
    // reference partitions the zone mart by week (calculate_zone_report.py:60)
    Sinks.writePartitioned(GeoPipeline.zoneReportFrom(b), s"$lake/analytics/zone_report",
      Seq("week"))
    b.unpersist()
  }

  def runStage4Recommendations(spark: SparkSession, lake: String): Unit = {
    val mes = interim(spark, lake)
    Sinks.writeMart(GeoPipeline.recommendationsFrom(mes, mes)
      // mart refresh stamp (reference F6, calculate_user_recommendations
      // .py:43) — fine here; oracle-checked queries avoid it (§5.1)
      .withColumn("processed_dttm", current_date()), s"$lake/analytics/recommendations")
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
