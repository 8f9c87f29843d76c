package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Physical data-layout planning — the lakehouse maintenance decision that
  * matters most at 100 TB: HOW rows are clustered into files decides how
  * many files a selective query must read (min/max zone-map pruning works
  * only if the clustering keeps each file's range narrow on the filter
  * column). This family computes a Z-ORDER (Morton) clustering of the
  * events fact over (user, day), derives the per-file zone maps the
  * layout would produce, and MEASURES the pruning gain against the naive
  * time-ordered layout on a synthetic range workload — the exact analysis
  * a table-maintenance service runs before deciding to re-cluster.
  *
  * Everything is exact integer arithmetic: both dimensions quantize to
  * 16-bit by monotone affine scaling, the Morton interleave is a 32-term
  * shift/mask expression (generated once, shared verbatim between the
  * Spark plan and the DuckDB oracle), and file assignment is fixed-width
  * bucketing of the z-value — deterministic, engine-independent, and
  * requiring NO global sort (a real re-cluster job would range-partition
  * by z; the analysis here only needs the bucket id, which is a pure
  * function of the row).
  */
object LayoutQueries {

  val NFiles = 64L // simulated target file count per layout
  val ZShift = 67108864L // 2^32 / 64: fixed-width z bucket → file id
  val TShift = 1024L // 65536 / 64: day16 bucket → file id (time layout)

  /** Morton interleave of two 16-bit values as a SQL expression string —
    * u occupies even bits, d odd bits. The SAME string feeds Spark's
    * expr() and the DuckDB oracle, so the kernels cannot drift. */
  private[graft] def zExpr(u: String, d: String): String =
    (0 until 16).map { i =>
      s"(($u >> $i) & 1) * ${1L << (2 * i)} + (($d >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Per-(layout, file) zone maps: row counts and min/max of both
    * quantized dimensions, for the z-order and time-ordered layouts in
    * ONE fact pass (the two candidate file ids expand in-row). */
  private def fileStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("eday"))
    val stats = ev.agg(min("user_id").as("u_lo"), max("user_id").as("u_hi"),
      min("eday").as("d_lo"), max("eday").as("d_hi"))
    ev.crossJoin(stats)
      .withColumn("u16", expr("(user_id - u_lo) * 65536 div (u_hi - u_lo + 1)"))
      .withColumn("d16", expr("(eday - d_lo) * 65536 div (d_hi - d_lo + 1)"))
      .withColumn("z", expr(zExpr("u16", "d16")))
      .select(col("u16"), col("d16"), explode(array(
        struct(lit("zorder").as("layout"), expr(s"z div $ZShift").as("file_id")),
        struct(lit("time").as("layout"), expr(s"d16 div $TShift").as("file_id"))))
        .as("f"))
      .select(col("f.layout").as("layout"), col("f.file_id").as("file_id"),
        col("u16"), col("d16"))
      .groupBy("layout", "file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("u16").as("u_min"), max("u16").as("u_max"),
        min("d16").as("d_min"), max("d16").as("d_max"))
  }

  private val SqlFileStats: String =
    s"""ev AS (
       |  SELECT user_id,
       |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
       |      AS eday
       |  FROM events),
       |st AS (SELECT min(user_id) AS u_lo, max(user_id) AS u_hi,
       |              min(eday) AS d_lo, max(eday) AS d_hi FROM ev),
       |q16 AS (
       |  SELECT (user_id - u_lo) * 65536 // (u_hi - u_lo + 1) AS u16,
       |         (eday - d_lo) * 65536 // (d_hi - d_lo + 1) AS d16
       |  FROM ev CROSS JOIN st),
       |zv AS (SELECT u16, d16, ${zExpr("u16", "d16")} AS z FROM q16),
       |files AS (
       |  SELECT layout, file_id, u16, d16 FROM (
       |    SELECT 'zorder' AS layout, z // $ZShift AS file_id, u16, d16 FROM zv
       |    UNION ALL
       |    SELECT 'time' AS layout, d16 // $TShift AS file_id, u16, d16 FROM zv)),
       |fs AS (
       |  SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
       |    min(u16) AS u_min, max(u16) AS u_max,
       |    min(d16) AS d_min, max(d16) AS d_max
       |  FROM files GROUP BY layout, file_id)""".stripMargin

  /** The zone maps themselves: per (layout, file) row count and min/max
    * of both clustering dimensions, plus the per-file span of each — the
    * artifact that shows WHY z-order prunes: z files are narrow on BOTH
    * dims (≈1/8 of the space each at 64 files), time files are narrow on
    * day and full-width on user. Complements `q_zorder_layout`
    * (SourceQueries), which emits the Morton CODE per row for the write
    * path — this family evaluates the resulting LAYOUT's economics. */
  val qZonemapLayouts: Q = new Q {
    val name = "q_zonemap_layouts"
    def run(spark: SparkSession, dir: String): DataFrame =
      fileStats(spark, dir)
        .select(col("layout"), col("file_id"), col("n_rows"),
          col("u_min"), col("u_max"), col("d_min"), col("d_max"),
          (col("u_max") - col("u_min") + 1L).as("span_u"),
          (col("d_max") - col("d_min") + 1L).as("span_d"))
        .orderBy("layout", "file_id")
    val oracle = Some(
      s"""WITH $SqlFileStats
         |SELECT layout, file_id, n_rows, u_min, u_max, d_min, d_max,
         |  u_max - u_min + 1 AS span_u, d_max - d_min + 1 AS span_d
         |FROM fs ORDER BY layout, file_id""".stripMargin)
  }

  /** Measured pruning gain: a 16-probe user-range workload (probe q scans
    * u16 ∈ [4096q, 4096q+4095]) against the zone maps of both layouts —
    * a file must be read iff its [u_min, u_max] intersects the probe.
    * Emits files/rows read per layout per probe; the z-order column is
    * the evidence that the re-cluster pays (time layout reads ~every
    * file for every user probe, z-order reads ~an eighth).
    * Scale shape: zone maps are file-grain (2 × NFiles rows) — the whole
    * workload evaluation is a broadcast cross of 16 × 128 rows; the fact
    * table was scanned exactly once to build the maps. */
  val qZorderPruningGain: Q = new Q {
    val name = "q_zorder_pruning_gain"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import spark.implicits._
      val probes = (0L until 16L).map(q => (q, q * 4096L, q * 4096L + 4095L))
        .toDF("probe_id", "u_from", "u_to")
      probes
        // hint kept: without it the nested-loop join builds the probes side
        .join(broadcast(fileStats(spark, dir)),
          col("u_max") >= col("u_from") && col("u_min") <= col("u_to"), "left")
        .groupBy("probe_id", "u_from", "u_to")
        .agg(
          sum(when(col("layout") === "zorder", 1L).otherwise(0L)).as("files_z"),
          sum(when(col("layout") === "zorder", col("n_rows")).otherwise(0L)).as("rows_z"),
          sum(when(col("layout") === "time", 1L).otherwise(0L)).as("files_t"),
          sum(when(col("layout") === "time", col("n_rows")).otherwise(0L)).as("rows_t"))
        .orderBy("probe_id")
    }
    val oracle = Some(
      s"""WITH $SqlFileStats,
         |probes AS (
         |  SELECT CAST(q AS BIGINT) AS probe_id, CAST(q * 4096 AS BIGINT) AS u_from,
         |         CAST(q * 4096 + 4095 AS BIGINT) AS u_to
         |  FROM (SELECT unnest(range(16)) AS q))
         |SELECT probe_id, u_from, u_to,
         |  CAST(sum(CASE WHEN layout = 'zorder' THEN 1 ELSE 0 END) AS BIGINT) AS files_z,
         |  CAST(sum(CASE WHEN layout = 'zorder' THEN n_rows ELSE 0 END) AS BIGINT) AS rows_z,
         |  CAST(sum(CASE WHEN layout = 'time' THEN 1 ELSE 0 END) AS BIGINT) AS files_t,
         |  CAST(sum(CASE WHEN layout = 'time' THEN n_rows ELSE 0 END) AS BIGINT) AS rows_t
         |FROM probes LEFT JOIN fs ON u_max >= u_from AND u_min <= u_to
         |GROUP BY probe_id, u_from, u_to ORDER BY probe_id""".stripMargin)
  }

  val all: Seq[Q] = Seq(qZonemapLayouts, qZorderPruningGain)
}
