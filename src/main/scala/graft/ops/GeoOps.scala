package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Geospatial operators — the reference's core capability (stage 1,
  * /root/reference/src/scripts/save_mes_geo.py).
  *
  * Semantics corrected per SURVEY.md §2.8(a): haversine REQUIRES radians();
  * the reference feeds raw degrees into sin/cos (save_mes_geo.py:39), which
  * is numerically wrong. We implement the textbook great-circle formula.
  */
object GeoOps {
  val EarthRadiusKm = 6371.0

  /** Great-circle distance in km between two (lat, lon) degree pairs.
    * Pure built-in column expression — fully whole-stage-codegen'd, no UDF
    * (reference composes the same trig by hand: save_mes_geo.py:34-39).
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val a = pow(sin(radians(lat2 - lat1) / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon1) / 2), 2)
    lit(2 * EarthRadiusKm) * asin(sqrt(a))
  }

  /** Nearest-neighbor join against a SMALL dimension (cities/zones), the
    * reference's crossJoin + window-top-1 argmin (save_mes_geo.py:38-44) —
    * re-planned Spark-first as a ZERO-SHUFFLE in-row argmin.
    *
    * The dimension is collected (it is small by definition — the reference's
    * city list; here ≤ a few thousand rows) and embedded as a literal
    * array<struct>; `aggregate` (higher-order function) scans it per event
    * row inside codegen. At 100 TB of events this is a narrow map-only
    * stage: no shuffle, no join exchange, no window sort — O(|events| ×
    * |dim|) compute streaming through whole-stage codegen. Contrast: the
    * reference's window over `event_id` shuffles the full fact table.
    *
    * Tie-break: strictly-less comparison over an array sorted by zone_id ⇒
    * lowest zone_id wins on equal distance (deterministic for the oracle).
    *
    * @param df      fact table with `latCol`/`lonCol` degree columns
    * @param zones   dimension with zone_id, zone_name, lat_z, lon_z
    * @return df + `zone_id`, `zone_name`, `dist_km` of the nearest zone
    */
  def nearestZone(df: DataFrame, zones: DataFrame, latCol: String, lonCol: String): DataFrame = {
    val zs = zones.select("zone_id", "zone_name", "lat_z", "lon_z")
      .collect()
      .sortBy(_.getAs[Number]("zone_id").longValue())
    require(zs.nonEmpty, "nearestZone: empty zone dimension")
    val best = graft.expressions.F.nearestZone(col(latCol), col(lonCol),
      zs.map(_.getAs[Number]("zone_id").longValue()),
      zs.map(_.getAs[String]("zone_name")),
      zs.map(_.getAs[Double]("lat_z")),
      zs.map(_.getAs[Double]("lon_z")))

    df.withColumn("__best", best)
      .withColumn("zone_id", col("__best.zone_id"))
      .withColumn("zone_name", col("__best.zone_name"))
      .withColumn("dist_km", col("__best.dist_km"))
      .drop("__best")
  }

  /** The reference's literal plan shape — crossJoin + window argmin
    * (save_mes_geo.py:38-44) — kept for generality (dimension too large to
    * embed as a literal). Broadcasts the dimension so the cross join is a
    * BroadcastNestedLoopJoin; the window still shuffles on `keyCol`.
    * Prefer [[nearestZone]] when the dimension fits in the driver.
    */
  def nearestZoneViaWindow(df: DataFrame, zones: DataFrame, keyCol: String,
                           latCol: String, lonCol: String): DataFrame = {
    val joined = df.crossJoin(zones)
      .withColumn("dist_km", haversineKm(col(latCol), col(lonCol), col("lat_z"), col("lon_z")))
    val w = Window.partitionBy(keyCol).orderBy(col("dist_km"), col("zone_id"))
    joined.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "lat_z", "lon_z")
  }

  /** Grid-bucketed distance-band self/two-table join for large×large scale:
    * assign each row to its cellDeg×cellDeg cell, replicate the right side
    * into the 3×3 neighborhood, equi-join on the cell, post-filter with
    * haversine. Turns an O(n²) cross join into a shuffle-bounded equi-join —
    * the 100 TB path for the reference's ≤-1 km pair search
    * (calculate_user_recommendations.py:40-41, J6 in SURVEY.md §2.3).
    *
    * Longitude cells are MODULAR (360/cellDeg cells) so pairs straddling
    * the ±180° antimeridian are found — haversine itself is periodic in
    * Δlon, only the grid needs the wrap. `cellDeg` must divide 360 and be
    * ≥ the radius in longitude degrees at the highest |lat| of interest
    * (completeness near the poles needs a dedicated cap cell — out of scope
    * for |lat| ≤ 90° − radius).
    *
    * `extraKeys` join IN the same shuffle as the cells (e.g. the
    * recommendation mart's channel/zone: candidate pairs must share them,
    * so putting them in the equi-join key both shrinks the pair space and
    * co-partitions by (cell, channel, zone) for free — the full-semantics
    * §2.8(b) mart at 100 TB is ONE shuffle-bounded equi-join, never a
    * per-channel explode + post-filter).
    */
  def distanceBandJoin(left: DataFrame, right: DataFrame, radiusKm: Double,
                       cellDeg: Double = 1.0, extraKeys: Seq[String] = Nil): DataFrame = {
    require(radiusKm > 0 && cellDeg > 0)
    val nLon = math.round(360.0 / cellDeg)
    require(math.abs(nLon * cellDeg - 360.0) < 1e-9, s"cellDeg=$cellDeg must divide 360")
    val lCell = left
      .withColumn("__clat", floor(col("lat_l") / cellDeg).cast("long"))
      .withColumn("__clon", pmod(floor(col("lon_l") / cellDeg).cast("long"), lit(nLon)))
    val offsets = Seq(-1L, 0L, 1L)
    val rRep = right
      .withColumn("__dlat", explode(array(offsets.map(lit(_)): _*)))
      .withColumn("__dlon", explode(array(offsets.map(lit(_)): _*)))
      .withColumn("__clat", floor(col("lat_r") / cellDeg).cast("long") + col("__dlat"))
      .withColumn("__clon",
        pmod(floor(col("lon_r") / cellDeg).cast("long") + col("__dlon"), lit(nLon)))
      .drop("__dlat", "__dlon")
    lCell.join(rRep, Seq("__clat", "__clon") ++ extraKeys)
      .where(haversineKm(col("lat_l"), col("lon_l"), col("lat_r"), col("lon_r")) <= radiusKm)
      .drop("__clat", "__clon")
  }
}
