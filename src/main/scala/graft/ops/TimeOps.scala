package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Local-time operators — the reference's timezone-by-coordinates UDF
  * (calculate_user_city.py:28-38, `timezonefinder` Python UDF) re-expressed
  * without any UDF (SURVEY.md §2.7).
  *
  * Two implementations:
  *  1. [[localTimeByOffset]] — longitude-band fixed offset
  *     (round(lon/15) hours), pure integer arithmetic, reproducible in the
  *     DuckDB oracle. Used by oracle-checked queries.
  *  2. [[withIanaZone]] + [[localTimeIana]] — broadcast zone_id → IANA
  *     zone-id lookup joined to the fact table, then the built-in
  *     `from_utc_timestamp`. Exact tz-database semantics (DST etc.), no
  *     Python process boundary, fully distributed. The reference only ever
  *     evaluates tz at a known city centroid, so a per-city lookup is the
  *     semantically right shape (SURVEY.md §2.7 option 2).
  */
object TimeOps {

  /** UTC offset in whole hours for a longitude, as the nautical/longitude-band
    * convention: round(lon / 15). Exact on both engines.
    * DuckDB: CAST(round(lon_z / 15.0) AS BIGINT). */
  def offsetHours(lon: Column): Column = round(lon / 15.0, 0).cast("long")

  /** ts shifted by the longitude-band offset — exact integer microsecond
    * arithmetic, portable: DuckDB `make_timestamp(epoch_us(ts) + off*3600000000)`. */
  def localTimeByOffset(ts: Column, lon: Column): Column =
    timestamp_micros(unix_micros(ts) + offsetHours(lon) * 3600000000L)

  def sqlLocalTimeByOffset(ts: String, lon: String): String =
    s"make_timestamp(epoch_us($ts) + CAST(round($lon / 15.0) AS BIGINT) * 3600000000)"

  /** Deterministic zone_id → IANA zone name lookup (a stand-in geo gazetteer;
    * real deployments load a curated city→tz table). Covers all offsets the
    * synthetic zones produce; broadcast-joined so it scales to any fact size. */
  val IanaByOffset: Map[Long, String] = Map(
    -12L -> "Etc/GMT+12", -11L -> "Etc/GMT+11", -10L -> "Etc/GMT+10",
    -9L -> "Etc/GMT+9", -8L -> "Etc/GMT+8", -7L -> "Etc/GMT+7",
    -6L -> "Etc/GMT+6", -5L -> "Etc/GMT+5", -4L -> "Etc/GMT+4",
    -3L -> "Etc/GMT+3", -2L -> "Etc/GMT+2", -1L -> "Etc/GMT+1",
    0L -> "Etc/UTC", 1L -> "Etc/GMT-1", 2L -> "Etc/GMT-2", 3L -> "Etc/GMT-3",
    4L -> "Etc/GMT-4", 5L -> "Etc/GMT-5", 6L -> "Etc/GMT-6", 7L -> "Etc/GMT-7",
    8L -> "Etc/GMT-8", 9L -> "Etc/GMT-9", 10L -> "Etc/GMT-10",
    11L -> "Etc/GMT-11", 12L -> "Etc/GMT-12")

  /** Join a broadcast (zone_id → iana_tz) dimension onto `df` (which must
    * carry `zone_id` and a `lon_z`-derivable offset via the zones dim). */
  def withIanaZone(spark: SparkSession, zones: DataFrame): DataFrame = {
    import spark.implicits._
    val lut = IanaByOffset.toSeq.toDF("__off", "iana_tz")
    zones
      .withColumn("__off", offsetHours(col("lon_z")))
      // hint kept: no catalog query runs this lookup, so no plan dump shows the planner's pick
      .join(broadcast(lut), Seq("__off"))
      .drop("__off")
  }

  /** Exact IANA local time: `from_utc_timestamp(ts, tzCol)` — Spark accepts a
    * per-row Column tz natively (reference F5, calculate_user_city.py:51). */
  def localTimeIana(ts: Column, tzCol: Column): Column =
    from_utc_timestamp(ts, tzCol)
}
