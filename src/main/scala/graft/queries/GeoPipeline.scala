package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{CollectOps, GeoOps, Sinks, TimeOps, WindowOps}

/** The reference's four pipeline stages re-expressed Spark-first over the
  * driver's test tables (FIXTURES.md §3 mapping):
  *
  *  1. geo_enrich      — save_mes_geo.py:27-50 (nearest city per event)
  *  2. user_act_city / user_home_city / user_travel / user_city_mart
  *                     — calculate_user_city.py (per-user mart)
  *  3. zone_report     — calculate_zone_report.py (week/month zone mart)
  *  4. recommendations — calculate_user_recommendations.py (intended
  *                       semantics per SURVEY.md §2.8(b) — the committed
  *                       script cannot run)
  *
  * All semantics follow the CORRECTED definitions of SURVEY.md §2.8
  * (radians in haversine, day-grain gap arithmetic, deterministic
  * tie-breaks). The home-stay threshold is parameterized; the reference
  * uses 27 days over months of data, the 30-day test window uses 2.
  *
  * Stages 2–4 are each defined once, as a `…From` builder that returns the
  * mart as the lake stores it (graft.Pipeline writes it); the catalog
  * entries are that builder's `…Export` projection.
  */
object GeoPipeline {

  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  val HomeStayDays = 2
  val RecsChannels = 50L
  val RecsRadiusKm = 1500.0

  /** Events enriched with nearest zone — zero-shuffle, zero-join in-row
    * argmin (GeoOps.nearestZone). Use this unless the consumer needs the
    * zone centroid longitude. */
  def enrichedCore(spark: SparkSession, dir: String): DataFrame =
    GeoOps.nearestZone(Tables.eventsGeo(spark, dir), Tables.zones(spark, dir),
      "lat_e", "lon_e")

  /** enrichedCore + the zone's centroid longitude (local-time derivation
    * needs it) via one broadcast dim join. */
  def enriched(spark: SparkSession, dir: String): DataFrame =
    withZoneLon(spark, dir, enrichedCore(spark, dir))

  private def withZoneLon(spark: SparkSession, dir: String, core: DataFrame): DataFrame =
    core.join(Tables.zones(spark, dir)
      .select(col("zone_id").cast("long").as("zone_id"), col("lon_z")), Seq("zone_id"))

  /** Shared oracle-SQL prefix deriving the identical enriched events. */
  private val hav = Tables.Sql.haversine("lat_e", "lon_e", "z.lat_z", "z.lon_z")
  val SqlEnriched: String =
    s"""WITH ${Tables.Sql.zones},
       |${Tables.Sql.eventsGeo},
       |d AS (
       |  SELECT ev.*, z.zone_id, z.zone_name, z.lon_z, $hav AS dist_km
       |  FROM ev CROSS JOIN zones z),
       |nn AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY dist_km, zone_id) AS rn
       |  FROM d),
       |enriched AS (SELECT * FROM nn WHERE rn = 1)""".stripMargin

  /** Latest event per user with position and zone (reference W2 — basis of
    * act_city and the recommendations' "last known position"). */
  def actPositionFrom(enrichedDf: DataFrame): DataFrame =
    WindowOps.latestPerKey(enrichedDf, Seq("user_id"),
      Seq(col("ts"), col("event_id")))

  private def actPosition(spark: SparkSession, dir: String): DataFrame =
    actPositionFrom(enriched(spark, dir))

  private val SqlActPosition: String =
    """act AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS urn
      |    FROM enriched) t
      |  WHERE urn = 1)""".stripMargin

  /** Stage 1 — nearest-zone enrichment (in-row argmin plan). */
  val geoEnrich: Q = new Q {
    val name = "geo_enrich"
    def run(spark: SparkSession, dir: String): DataFrame =
      enrichedCore(spark, dir)
        .select(col("event_id"), col("zone_id"), col("zone_name"),
          round(col("dist_km") * 100).cast("long").as("dist_km_e2"))
        // persisted before the global sort: the range sampler otherwise
        // re-executes the in-row argmin kernel (map-only plan;
        // OPTIMIZATION_r18)
        .persist()
        .orderBy("event_id")
    val oracle = Some(
      s"""$SqlEnriched
         |SELECT event_id, CAST(zone_id AS BIGINT) AS zone_id, zone_name,
         |       CAST(round(dist_km * 100) AS BIGINT) AS dist_km_e2
         |FROM enriched ORDER BY event_id""".stripMargin)
  }

  /** Stage 1, reference plan shape — crossJoin + window argmin (J1+J2+W1,
    * save_mes_geo.py:38-44). Same semantics and oracle as geo_enrich,
    * different physical plan (broadcast nested-loop + window shuffle). */
  val geoEnrichXjoin: Q = new Q {
    val name = "geo_enrich_xjoin"
    def run(spark: SparkSession, dir: String): DataFrame =
      GeoOps.nearestZoneViaWindow(
        // project BEFORE the cross join (guide §2.3): the window shuffles
        // |events|·|zones| rows, and only these three columns are needed —
        // the full event row (incl. the props payload) was riding through
        // the exchange + sort (OPTIMIZATION_r18). Same plan shape
        // (BroadcastNestedLoopJoin + window argmin — the reference twin).
        // fanned: the |events|·|zones| window shuffle below is the
        // measured winner of the per-query fan-out A/B (OPTIMIZATION_r19)
        Tables.eventsGeo(spark, dir, fanned = true)
          .select("event_id", "lat_e", "lon_e"),
        Tables.zones(spark, dir).withColumn("zone_id", col("zone_id").cast("long")),
        "event_id", "lat_e", "lon_e")
        .select(col("event_id"), col("zone_id"), col("zone_name"),
          round(col("dist_km") * 100).cast("long").as("dist_km_e2"))
        .orderBy("event_id")
    val oracle = geoEnrich.oracle
  }

  /** Stage 2a — actual city: latest event's zone + longitude-band local time
    * (calculate_user_city.py:42-52; tz semantics per SURVEY.md §2.7). */
  val userActCity: Q = new Q {
    val name = "user_act_city"
    def run(spark: SparkSession, dir: String): DataFrame =
      actPosition(spark, dir)
        .select(col("user_id"), col("zone_id").cast("long").as("act_zone_id"),
          col("zone_name").as("act_zone"), col("ts").as("last_ts"),
          TimeOps.localTimeByOffset(col("ts"), col("lon_z")).as("local_time"))
        .orderBy("user_id")
    val oracle = Some(
      s"""$SqlEnriched,
         |$SqlActPosition
         |SELECT user_id, CAST(zone_id AS BIGINT) AS act_zone_id, zone_name AS act_zone,
         |       ts AS last_ts,
         |       ${TimeOps.sqlLocalTimeByOffset("ts", "lon_z")} AS local_time
         |FROM act ORDER BY user_id""".stripMargin)
  }

  /** Day-grain visits: one (user, date, zone) row per day — zone of the
    * day's last event. Basis for home_city and travel (the reference's
    * `user_geo` projection, calculate_user_city.py:17-22, on day grain). */
  def visitsFrom(enrichedDf: DataFrame): DataFrame =
    WindowOps.latestPerKey(
      enrichedDf.withColumn("visit_date", col("ts").cast("date")),
      Seq("user_id", "visit_date"), Seq(col("ts"), col("event_id")))
      .select("user_id", "visit_date", "zone_id", "zone_name")
      // clustered by user once, here: home's and travel's user windows
      // read the visits as they lie instead of shuffling them once each.
      // After the (user, day) window, not before it: that window's exchange
      // follows a map-side top-1 per (user, day), which halves its bytes
      .repartition(col("user_id"))

  private def visits(spark: SparkSession, dir: String): DataFrame =
    visitsFrom(enrichedCore(spark, dir))

  /** Home visit per user: the most recent visit whose gap to the user's
    * next visit is ≥ HomeStayDays (visit columns + `gap_days`). */
  def homeFrom(visits: DataFrame): DataFrame =
    WindowOps.topKPerKey(
      WindowOps.gapDaysToNext(visits, Seq("user_id"), "visit_date")
        .where(col("gap_days") >= HomeStayDays),
      Seq("user_id"), Seq(col("visit_date").desc), 1)

  /** Travel per user: count of zone changes between consecutive visits and
    * the zones entered, in visit order (`travel_array`). */
  def travelFrom(visits: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("visit_date")
    visits.withColumn("prev_zone", lag(col("zone_id"), 1).over(w))
      .where(col("prev_zone").isNull || col("zone_id") =!= col("prev_zone"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("travel_count"),
        CollectOps.orderedCollect(col("visit_date"), col("zone_name")).as("travel_array"))
  }

  /** The stage-2 mart as the lake stores it (analytics/user_city): act ⟕
    * home ⟕ travel on user_id. `enriched` must carry `lon_z`; `visits` is
    * `visitsFrom` of the same events (callers persist it — both home and
    * travel read it). */
  def userCityFrom(enriched: DataFrame, visits: DataFrame): DataFrame =
    actPositionFrom(enriched)
      .select(col("user_id"), col("zone_name").as("act_zone"),
        TimeOps.localTimeByOffset(col("ts"), col("lon_z")).as("local_time"))
      .join(homeFrom(visits).select(col("user_id"), col("zone_name").as("home_zone")),
        Seq("user_id"), "left")
      .join(travelFrom(visits), Seq("user_id"), "left")

  /** `travel_array` '|'-joined — exported as a string so the cross-engine
    * hash compare is representation-stable (list-column pandas hashing
    * differs between engines); the array form itself is
    * CollectOps.orderedCollect, covered by its spec. A null array (a user
    * with no travel row after the left join) stays null. */
  private val travelPath = array_join(col("travel_array"), "|").as("travel_path")

  /** user_city_mart's projection of a `userCityFrom` mart. */
  def userCityExport(userCity: DataFrame): DataFrame =
    userCity.select(col("user_id"), col("act_zone"), col("local_time"), col("home_zone"),
      col("travel_count"), travelPath)
      .orderBy("user_id")

  private val SqlVisits: String =
    """visits AS (
      |  SELECT user_id, visit_date, zone_id, zone_name FROM (
      |    SELECT user_id, CAST(ts AS DATE) AS visit_date, zone_id, zone_name,
      |           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                              ORDER BY ts DESC, event_id DESC) AS vrn
      |    FROM enriched) t
      |  WHERE vrn = 1)""".stripMargin

  /** Stage 2b — home city: zone of the most recent visit whose gap to the
    * user's next visit is ≥ HomeStayDays (corrected §2.8(d) semantics;
    * latest-wins top-1 resolves to exactly one home per user). */
  val userHomeCity: Q = new Q {
    val name = "user_home_city"
    def run(spark: SparkSession, dir: String): DataFrame =
      homeFrom(visits(spark, dir))
        .select(col("user_id"), col("zone_id").cast("long").as("home_zone_id"),
          col("zone_name").as("home_zone"), col("visit_date").as("home_since"))
        .orderBy("user_id")
    val oracle = Some(
      s"""$SqlEnriched,
         |$SqlVisits,
         |g AS (
         |  SELECT *, date_diff('day', visit_date,
         |           lead(visit_date) OVER (PARTITION BY user_id ORDER BY visit_date)) AS gap_days
         |  FROM visits),
         |h AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY visit_date DESC) AS hrn
         |  FROM g WHERE gap_days >= $HomeStayDays)
         |SELECT user_id, CAST(zone_id AS BIGINT) AS home_zone_id, zone_name AS home_zone,
         |       visit_date AS home_since
         |FROM h WHERE hrn = 1 ORDER BY user_id""".stripMargin)
  }

  /** Stage 2c — travel history: ordered array of zone changes + count
    * (A5–A7, calculate_user_city.py:63-69; ordered collect restores
    * determinism). */
  val userTravel: Q = new Q {
    val name = "user_travel"
    def run(spark: SparkSession, dir: String): DataFrame =
      travelFrom(visits(spark, dir))
        .select(col("user_id"), col("travel_count"), travelPath)
        .orderBy("user_id")
    val oracle = Some(
      s"""$SqlEnriched,
         |$SqlVisits,
         |c AS (
         |  SELECT *, lag(zone_id) OVER (PARTITION BY user_id ORDER BY visit_date) AS prev_zone
         |  FROM visits),
         |t AS (SELECT * FROM c WHERE prev_zone IS NULL OR zone_id != prev_zone)
         |SELECT user_id, count(*) AS travel_count,
         |       array_to_string(list(zone_name ORDER BY visit_date), '|') AS travel_path
         |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  /** Stage 2 assembled — the reference's `user_city` mart shape
    * (calculate_user_city.py:72-77): act ⟕ home ⟕ travel on user_id. */
  val userCityMart: Q = new Q {
    val name = "user_city_mart"
    def run(spark: SparkSession, dir: String): DataFrame = {
      // one enrichment pass feeds ALL THREE sub-marts (act via a broadcast
      // lon join, home+travel via day-grain visits) — without the shared
      // persist the events scan + argmin would run twice
      val core = enrichedCore(spark, dir).persist()
      // visits feeds both home and travel — persist so the per-(user, day)
      // window runs once (tiny frame: |users|·|days| rows)
      userCityExport(userCityFrom(withZoneLon(spark, dir, core), visitsFrom(core).persist()))
    }
    val oracle = Some(
      s"""$SqlEnriched,
         |$SqlActPosition,
         |$SqlVisits,
         |g AS (
         |  SELECT *, date_diff('day', visit_date,
         |           lead(visit_date) OVER (PARTITION BY user_id ORDER BY visit_date)) AS gap_days
         |  FROM visits),
         |h AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY visit_date DESC) AS hrn
         |  FROM g WHERE gap_days >= $HomeStayDays),
         |home AS (SELECT user_id, zone_name AS home_zone FROM h WHERE hrn = 1),
         |c AS (
         |  SELECT *, lag(zone_id) OVER (PARTITION BY user_id ORDER BY visit_date) AS prev_zone
         |  FROM visits),
         |t AS (SELECT * FROM c WHERE prev_zone IS NULL OR zone_id != prev_zone),
         |travel AS (
         |  SELECT user_id, count(*) AS travel_count,
         |         array_to_string(list(zone_name ORDER BY visit_date), '|') AS travel_path
         |  FROM t GROUP BY user_id)
         |SELECT a.user_id, a.zone_name AS act_zone,
         |       ${TimeOps.sqlLocalTimeByOffset("a.ts", "a.lon_z")} AS local_time,
         |       home.home_zone, travel.travel_count, travel.travel_path
         |FROM act a
         |LEFT JOIN home ON a.user_id = home.user_id
         |LEFT JOIN travel ON a.user_id = travel.user_id
         |ORDER BY a.user_id""".stripMargin)
  }

  /** Stage-3 input: enriched events with their week and month. `week` stays
    * int, the type partition discovery reads back from the mart's `week=`
    * directories, so the lake and the mart agree; the catalog projection
    * widens it. */
  def zoneEventsFrom(enriched: DataFrame): DataFrame =
    enriched
      .withColumn("week", weekofyear(col("ts")))
      .withColumn("month", month(col("ts")).cast("long"))
      .select("user_id", "event_id", "ts", "event_type", "zone_id", "week", "month")

  /** The stage-3 mart as the lake stores it (analytics/zone_report) over
    * `zoneEventsFrom` rows (callers persist them — the pivot and the
    * registrations both read them): week/month × zone pivoted event-type
    * counts, month rollups, first-event "registrations". Each input is
    * aggregated once, to the mart's (week, month, zone) grain; the month
    * rollups and the registration counts per (week, zone) and per
    * (month, zone) are window sums over those rows, so neither the pivot
    * nor the registrations run a second time for a second grain. */
  def zoneReportFrom(zoneEvents: DataFrame): DataFrame = {
    val grain = Seq("week", "month", "zone_id")
    val regs = WindowOps.firstPerKey(zoneEvents, Seq("user_id"), Seq(col("ts"), col("event_id")))
      .groupBy(grain.map(col): _*).agg(count(lit(1)).as("regs"))
    val cells = CollectOps.pivotCounts(zoneEvents.groupBy(grain.map(col): _*), "event_type",
      EventTypes, "week_").join(regs, grain, "left")
    val byWeek = org.apache.spark.sql.expressions.Window.partitionBy("week", "zone_id")
    val byMonth = org.apache.spark.sql.expressions.Window.partitionBy("month", "zone_id")
    cells.select(Seq(col("month"), col("zone_id"), col("week")) ++
      EventTypes.map(t => col(s"week_$t")) ++
      EventTypes.map(t => sum(s"week_$t").over(byMonth).as(s"month_$t")) ++
      Seq(coalesce(sum("regs").over(byWeek), lit(0L)).as("week_user"),
        coalesce(sum("regs").over(byMonth), lit(0L)).as("month_user")): _*)
  }

  /** zone_report's projection of a `zoneReportFrom` mart. */
  def zoneReportExport(zoneReport: DataFrame): DataFrame =
    zoneReport
      .select(Seq(col("week").cast("long").as("week"), col("month"),
          col("zone_id").cast("long").as("zone_id")) ++
        EventTypes.map(t => col(s"week_$t")) ++ Seq(col("week_user")) ++
        EventTypes.map(t => col(s"month_$t")) ++ Seq(col("month_user")): _*)
      .orderBy("week", "month", "zone_id")

  /** Stage 3 — zone report: week/month × zone pivoted event-type counts,
    * month rollups, first-event "registrations" (calculate_zone_report.py;
    * output grain (week, month, zone) per §2.8(e)). */
  val zoneReport: Q = new Q {
    val name = "zone_report"
    def run(spark: SparkSession, dir: String): DataFrame =
      zoneReportExport(zoneReportFrom(zoneEventsFrom(enrichedCore(spark, dir)).persist()))
    val oracle = {
      val wkCols = EventTypes.map(t =>
        s"count(*) FILTER (WHERE event_type = '$t') AS week_$t").mkString(",\n         ")
      val moCols = EventTypes.map(t =>
        s"CAST(sum(week_$t) AS BIGINT) AS month_$t").mkString(",\n         ")
      Some(
        s"""$SqlEnriched,
           |b AS (
           |  SELECT user_id, event_id, ts, event_type, zone_id,
           |         CAST(weekofyear(ts) AS BIGINT) AS week,
           |         CAST(month(ts) AS BIGINT) AS month
           |  FROM enriched),
           |wk AS (
           |  SELECT week, month, zone_id,
           |         $wkCols
           |  FROM b GROUP BY week, month, zone_id),
           |mo AS (
           |  SELECT month, zone_id,
           |         $moCols
           |  FROM wk GROUP BY month, zone_id),
           |regs AS (
           |  SELECT * FROM (
           |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn2
           |    FROM b) t WHERE rn2 = 1),
           |rw AS (SELECT week, zone_id, count(*) AS week_user FROM regs GROUP BY week, zone_id),
           |rm AS (SELECT month, zone_id, count(*) AS month_user FROM regs GROUP BY month, zone_id)
           |SELECT wk.week, wk.month, CAST(wk.zone_id AS BIGINT) AS zone_id,
           |       ${EventTypes.map(t => s"week_$t").mkString(", ")}, coalesce(week_user, 0) AS week_user,
           |       ${EventTypes.map(t => s"month_$t").mkString(", ")}, coalesce(month_user, 0) AS month_user
           |FROM wk
           |JOIN mo ON wk.month = mo.month AND wk.zone_id = mo.zone_id
           |LEFT JOIN rw ON wk.week = rw.week AND wk.zone_id = rw.zone_id
           |LEFT JOIN rm ON wk.month = rm.month AND wk.zone_id = rm.zone_id
           |ORDER BY wk.week, wk.month, wk.zone_id""".stripMargin)
    }
  }

  /** The stage-4 mart as the lake stores it (analytics/recommendations,
    * before its refresh stamp): `recommendationPairs` on the plain
    * (channel, zone) equi-join. `events` supplies the signups (user_id,
    * event_type, props); `enriched` must carry `lon_z`. */
  def recommendationsFrom(events: DataFrame, enriched: DataFrame): DataFrame =
    recommendationPairs(events, enriched)(_.join(_, Seq("channel", "zone_id")))

  /** Users sharing a subscription channel and an actual zone, last-known
    * positions within RecsRadiusKm, canonical user_left < user_right,
    * stamped with the left user's local time. `pairJoin` joins the left
    * and right sides on (channel, zone_id) at least. */
  private def recommendationPairs(events: DataFrame, enriched: DataFrame)
                                 (pairJoin: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val signups = events.where(col("event_type") === "signup")
      .select(col("user_id"),
        (get_json_object(col("props"), "$.k").cast("long") % RecsChannels).as("channel"))
    // join channel AND zone jointly (reference J5 joins on [subc, city_id],
    // calculate_user_recommendations.py:37-38): attaching the actual zone
    // BEFORE the self-join keeps the pair space (channel, zone)-bounded
    // instead of exploding per channel and filtering after.
    // NO broadcast hint: both sides are user-grain (billions of rows at
    // the 100 TB design point — a hint here is an OOM AQE can't undo);
    // the user_id equi-join co-partitions on its own, and AQE still
    // broadcast-converts at runtime when the measured size allows.
    // ONE exchange feeds both pair sides. The signups, with their user's
    // zone, position and local time (stamped per user, not per pair), are
    // clustered on the pair key and then made distinct (a user with two
    // signups on one channel pairs once), which needs no exchange of its
    // own. The distinct keeps every column either side reads, so column
    // pruning leaves both sides the same plan below it and Spark reuses
    // the exchange; both sides read one map output, and AQE no longer
    // picks the broadcast side by which of two side stages ended first.
    val subsZ = signups.join(actPositionFrom(enriched).select(col("user_id"),
        col("zone_id"), col("lat_e"), col("lon_e"),
        TimeOps.localTimeByOffset(col("ts"), col("lon_z")).as("local_time")), Seq("user_id"))
      .repartition(col("channel"), col("zone_id"))
      .distinct()
    val al = subsZ.select(col("user_id").as("user_left"), col("channel"),
      col("zone_id"), col("lat_e").as("lat_l"), col("lon_e").as("lon_l"), col("local_time"))
    val ar = subsZ.select(col("user_id").as("user_right"), col("channel"),
      col("zone_id"), col("lat_e").as("lat_r"), col("lon_e").as("lon_r"))
    pairJoin(al, ar)
      .where(col("user_left") < col("user_right"))
      .withColumn("dist_km",
        GeoOps.haversineKm(col("lat_l"), col("lon_l"), col("lat_r"), col("lon_r")))
      .where(col("dist_km") <= RecsRadiusKm)
      .select(col("user_left"), col("user_right"), col("channel"), col("zone_id"),
        col("dist_km"), col("local_time"))
  }

  /** recommendations' projection of a `recommendationsFrom` mart. */
  def recommendationsExport(recs: DataFrame): DataFrame =
    recs.select(col("user_left"), col("user_right"), col("channel"),
      col("zone_id").cast("long").as("zone_id"),
      round(col("dist_km") * 100).cast("long").as("dist_km_e2"), col("local_time"))
      .orderBy("user_left", "user_right", "channel")

  /** Stage 4 — friend recommendations, INTENDED semantics (§2.8(b)): users
    * sharing a subscription channel and an actual zone, last-known positions
    * within RecsRadiusKm, canonical user_left < user_right, stamped with the
    * left user's local time. Channel = props.k mod RecsChannels over
    * 'signup' events (FIXTURES.md §3 channel mapping). */
  val recommendations: Q = new Q {
    val name = "recommendations"
    def run(spark: SparkSession, dir: String): DataFrame =
      recommendationsExport(recommendationsFrom(Tables.events(spark, dir), enriched(spark, dir)))
    val oracle = {
      val havLR = Tables.Sql.haversine("lat_l", "lon_l", "lat_r", "lon_r")
      Some(
        s"""$SqlEnriched,
           |$SqlActPosition,
           |subs AS (
           |  SELECT DISTINCT user_id,
           |         CAST(json_extract_string(props, '$$.k') AS BIGINT) % $RecsChannels AS channel
           |  FROM events WHERE event_type = 'signup'),
           |p AS (
           |  SELECT l.user_id AS user_left, r.user_id AS user_right, l.channel
           |  FROM subs l JOIN subs r ON l.channel = r.channel
           |  WHERE l.user_id < r.user_id),
           |j AS (
           |  SELECT p.user_left, p.user_right, p.channel,
           |         CAST(al.zone_id AS BIGINT) AS zone_id,
           |         al.ts AS ts_l, al.lon_z AS lon_z_l,
           |         al.lat_e AS lat_l, al.lon_e AS lon_l,
           |         ar.lat_e AS lat_r, ar.lon_e AS lon_r
           |  FROM p
           |  JOIN act al ON p.user_left = al.user_id
           |  JOIN act ar ON p.user_right = ar.user_id
           |  WHERE al.zone_id = ar.zone_id)
           |SELECT user_left, user_right, channel, zone_id,
           |       CAST(round($havLR * 100) AS BIGINT) AS dist_km_e2,
           |       ${TimeOps.sqlLocalTimeByOffset("ts_l", "lon_z_l")} AS local_time
           |FROM j
           |WHERE $havLR <= $RecsRadiusKm
           |ORDER BY user_left, user_right, channel""".stripMargin)
    }
  }

  /** Recommendations via the grid-bucketed distance-band join (J6 at
    * scale): pairs of users whose last known positions are within 500 km,
    * regardless of channel/zone — the O(n²) cross join becomes a 3×3-cell
    * equi-join (cellDeg=10° ≥ 500 km in longitude at |lat| ≤ 60°). */
  val recommendationsGrid: Q = new Q {
    val name = "recommendations_grid"
    val RadiusKm = 500.0
    def run(spark: SparkSession, dir: String): DataFrame = {
      val act = actPositionFrom(enrichedCore(spark, dir))
        .select(col("user_id"), col("lat_e"), col("lon_e"))
      val l = act.select(col("user_id").as("user_left"),
        col("lat_e").as("lat_l"), col("lon_e").as("lon_l"))
      val r = act.select(col("user_id").as("user_right"),
        col("lat_e").as("lat_r"), col("lon_e").as("lon_r"))
      GeoOps.distanceBandJoin(l, r, RadiusKm, cellDeg = 10.0)
        .where(col("user_left") < col("user_right"))
        .select(col("user_left"), col("user_right"),
          round(GeoOps.haversineKm(col("lat_l"), col("lon_l"), col("lat_r"), col("lon_r")) * 100)
            .cast("long").as("dist_km_e2"))
        .orderBy("user_left", "user_right")
    }
    val oracle = {
      val havLR = Tables.Sql.haversine("l.lat_e", "l.lon_e", "r.lat_e", "r.lon_e")
      Some(
        s"""$SqlEnriched,
           |$SqlActPosition
           |SELECT l.user_id AS user_left, r.user_id AS user_right,
           |       CAST(round($havLR * 100) AS BIGINT) AS dist_km_e2
           |FROM act l JOIN act r ON l.user_id < r.user_id
           |WHERE $havLR <= $RadiusKm
           |ORDER BY user_left, user_right""".stripMargin)
    }
  }

  /** Stage 4 at 100 TB — the FULL §2.8(b) mart on the grid-bucketed
    * distance-band join (J6): identical semantics — and the identical
    * oracle — to `recommendations` (shared channel + shared actual zone +
    * within RecsRadiusKm + left user's local time), but the candidate pair
    * space is bounded by ONE equi-join on (grid cell, channel, zone)
    * instead of (channel, zone) alone. cellDeg=30 ≥ the 1500 km radius in
    * longitude degrees at |lat| < 60° (the fixture coordinate domain,
    * Tables.eventsGeo), so the 3×3 cell neighborhood is complete. No
    * broadcast of any user-grain frame, no nested-loop join
    * (PlanSpec-pinned): shuffle-bounded equi-joins end to end — the shape
    * that survives billions of users (calculate_user_recommendations.py:
    * 37-44 intent at scale). */
  val recommendationsGridFull: Q = new Q {
    val name = "recommendations_grid_full"
    def run(spark: SparkSession, dir: String): DataFrame =
      recommendationsExport(recommendationPairs(Tables.events(spark, dir), enriched(spark, dir))(
        GeoOps.distanceBandJoin(_, _, RecsRadiusKm, cellDeg = 30.0,
          extraKeys = Seq("channel", "zone_id"))))
    val oracle = recommendations.oracle
  }

  /** Stage 1 over the reference's RAW LAYOUT, end to end (S2/S3): events
    * land hive-partitioned by day (`events/date=YYYY-MM-DD/`,
    * save_mes_geo.py:16-22) and the job reads a depth-N day window off the
    * partitioned root (reports_dag.py:11 — depth 10 here). The date
    * predicate resolves to STATIC partition pruning — the scan's
    * PartitionFilters drop whole-day directories before a single file is
    * opened (PlanSpec-pinned) — so at 100 TB the daily run reads 10 of
    * ~3000 day dirs. The layout is written once per process (Staging);
    * the oracle enriches the same window straight off the unpartitioned
    * table, proving layout + pruning lose nothing. */
  val geoEnrichPartitioned: Q = new Q {
    val name = "geo_enrich_partitioned"
    val WindowStart = "2024-01-21"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val src = Tables.eventsGeo(spark, dir)
        .withColumn("date", to_date(col("ts")).cast("string"))
      // cluster by day before writing: one file per day dir, not one per
      // (task × day)
      val path = graft.ops.Staging.once("/tmp/graft_evdays", dir, "events_bydate")(
        Sinks.writePartitioned(src.repartition(col("date")), _, Seq("date")))
      // explicit schema: readable even if a regenerated fixture's window
      // were empty (file-less dir); partition col `date` binds by name
      val windowed = spark.read.schema(src.schema).parquet(path)
        .where(col("date") >= WindowStart)
      GeoOps.nearestZone(windowed, Tables.zones(spark, dir), "lat_e", "lon_e")
        .select(col("event_id"), col("zone_id"), col("zone_name"),
          round(col("dist_km") * 100).cast("long").as("dist_km_e2"))
        .orderBy("event_id")
    }
    val oracle = Some(
      s"""WITH ${Tables.Sql.zones},
         |ev AS (
         |  SELECT *,
         |         ((event_id*13) % 1200) / 10.0 - 60.0  AS lat_e,
         |         ((event_id*29) % 3600) / 10.0 - 180.0 AS lon_e
         |  FROM events WHERE CAST(ts AS DATE) >= DATE '$WindowStart'),
         |d AS (
         |  SELECT ev.*, z.zone_id, z.zone_name, $hav AS dist_km
         |  FROM ev CROSS JOIN zones z),
         |nn AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY dist_km, zone_id) AS rn
         |  FROM d)
         |SELECT event_id, CAST(zone_id AS BIGINT) AS zone_id, zone_name,
         |       CAST(round(dist_km * 100) AS BIGINT) AS dist_km_e2
         |FROM nn WHERE rn = 1 ORDER BY event_id""".stripMargin)
  }

  val all: Seq[Q] = Seq(geoEnrich, geoEnrichXjoin, geoEnrichPartitioned,
    userActCity, userHomeCity, userTravel, userCityMart, zoneReport,
    recommendations, recommendationsGrid, recommendationsGridFull)
}
