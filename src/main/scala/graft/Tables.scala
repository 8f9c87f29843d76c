package graft

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (TESTDATA.md) plus the
  * synthetic `zones` dimension derived deterministically from `nation`
  * (FIXTURES.md §3 — the reference's `geo` city dimension, re-expressed so
  * the DuckDB oracle can derive the identical table with pure SQL).
  *
  * Reference data model: tables are directories of parquet read with
  * `spark.read.parquet` (/root/reference/src/scripts/save_mes_geo.py:30-31).
  */
object Tables {
  /** Scan fan-out (OPTIMIZATION_r18, guide §2.5 "input skew — one huge
    * unsplittable file"): the driver ships each table as ONE parquet file
    * with ONE row group, so every scan stage is exactly one task and all
    * work Spark fuses into it (project/filter kernels, map-side partial
    * aggregation, shuffle write) runs single-threaded regardless of core
    * count — profiled at 1305 core-seconds executing at average
    * parallelism 2.6 on 32 cores across the catalog. When (and only when)
    * the scan's achievable parallelism is far below the session's cores,
    * re-hash the table across the cores on its natural high-cardinality
    * key. The guard is scale-adaptive, not a constant tuned to one core
    * count: at production scale a table is thousands of splittable files,
    * the estimated scan-task count exceeds the core count, and this is a
    * no-op — exactly the "derive partitioning from input size" rule.
    * Hash (not round-robin) partitioning: deterministic row→partition
    * mapping is retry-safe (SPARK-38388) and skips round-robin's
    * sort-before-repartition; the keys below are near-unique so the hash
    * spreads evenly. OPT-IN per call site (`fanned = true` on the
    * loaders) — see the policy note on [[table]]; below
    * [[FanoutMinBytes]] the scan is dimension-sized and the exchange
    * would cost more than the serial scan.
    */
  private val FanoutKeys = Map(
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "part" -> "p_partkey",
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  private val FanoutMinBytes = 512L * 1024

  private def fanOut(spark: SparkSession, df: DataFrame, path: String,
                     key: Option[String]): DataFrame = key match {
    case Some(k) =>
      val par = spark.sparkContext.defaultParallelism
      // A table path may be a single parquet FILE (the driver's testdata
      // layout) or a directory of part files (Spark-written layout).
      // java.io.File.listFiles() returns null for a regular file, so the
      // file case must be treated as its own one-element listing — the r18
      // version missed this and the fan-out was dead code on exactly the
      // layout it targeted (ADVICE r18 medium).
      val root = new java.io.File(path)
      val files: Seq[java.io.File] =
        if (root.isFile) Seq(root)
        else Option(root.listFiles())
          .map(_.toSeq.filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith(".")))
          .getOrElse(Seq.empty)
      val bytes = files.map(_.length()).sum
      val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes.max(1L)
      // estimated scan tasks from FS metadata only (driver-side, no job):
      // files are at best one task per maxPartitionBytes-sized split;
      // ceiling division — floor under-counted near the boundary (a file
      // of 2.3 splits is 3 tasks, not 2; ADVICE r18 low)
      val estTasks = files.map(f => (f.length() + maxSplit - 1) / maxSplit).sum
      if (bytes >= FanoutMinBytes && estTasks * 2 <= par)
        df.repartition(par, org.apache.spark.sql.functions.col(k))
      else df
    case None => df
  }

  /** Load a table; `fanned = true` opts the scan into the fan-out above.
    *
    * POLICY (OPTIMIZATION_r19, measured): the fan-out is OPT-IN per call
    * site, not global. A full-catalog A/B with the (fixed) fan-out firing
    * on every mapped table measured 9 s of improvement mass against 118 s
    * of regression mass — the extra exchange plus its AQE stage-jobs tax
    * every cheap query by ~0.2–0.5 s, while only kernel-heavy consumers
    * (per-token scoring, frame explodes, window argmin over a wide
    * cross join) amortize it. The queries that measurably win pass
    * `fanned = true` (re-measured at 4 cores: ROADMAP item 5). */
  def table(spark: SparkSession, dir: String, name: String,
            fanned: Boolean = false): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = parquet(spark, path)
    if (fanned) fanOut(spark, df, path, FanoutKeys.get(name)) else df
  }

  /** Schemas Spark inferred, per session (held weakly): qualified path ->
    * (the files listed under it as (name, length, mtime), the schema
    * inferred from them). Metadata only, as a metastore holds a table's
    * schema: no data, plan or result is kept. */
  private val inferred =
    new java.util.WeakHashMap[SparkSession,
      mutable.Map[String, (Seq[(String, Long, Long)], StructType)]]()

  /** `spark.read.parquet(path)` that infers each table's schema once per
    * session. Inference runs a Spark job that reads footers (about 55 ms
    * at sf0.1, the only job a cheap query's builder starts); a read whose
    * path lists the same files as an earlier read in the session passes
    * the schema inferred then and starts no job. A file added, removed or
    * rewritten changes the listing, so the table is inferred again and
    * fixture drift is seen as before. Inference depends on session conf
    * (`spark.sql.legacy.parquet.nanosAsLong`), which `Sessions.defaults`
    * sets at session build. A path that cannot be listed is read as is,
    * so Spark reports it. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      try {
        val it = fs.listFiles(p, true)
        val b = Vector.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          b += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        Some(b.result().sorted)
      } catch { case _: java.io.FileNotFoundException => None }
    files match {
      case None => spark.read.parquet(path)
      case Some(listed) =>
        val key = fs.makeQualified(p).toString
        val known = inferred.synchronized {
          Option(inferred.get(spark)).flatMap(_.get(key)).collect {
            case (seen, schema) if seen == listed => schema
          }
        }
        known match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            inferred.synchronized {
              inferred.computeIfAbsent(spark, _ => mutable.Map.empty)(key) = (listed, df.schema)
            }
            df
        }
    }
  }

  def lineitem(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame =
    table(spark, dir, "lineitem", fanned)
  def orders(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame =
    table(spark, dir, "orders", fanned)
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  /** `events.ts` normalization is SCHEMA-DRIVEN: the driver has shipped this
    * column as parquet TIMESTAMP(NANOS) (rounds 1-6) and as timestamp[us]
    * (round 7+), and hard-coding either encoding breaks every downstream
    * events query when the fixture flips (VERDICT r7). Branch on the type
    * Spark actually loaded:
    *  - LongType       → legacy nanos-as-long; floor-truncate to micros,
    *                     exactly what DuckDB's reader does with NANOS
    *  - TimestampNTZType → timestamp[us] w/o UTC adjustment; cast to the
    *                     session-UTC TimestampType all queries assume
    *                     (wall-clock preserved under the pinned UTC session,
    *                     bit-identical to DuckDB's naive read)
    *  - TimestampType  → already what we want
    * Reading the NANOS footer at all requires
    * `spark.sql.legacy.parquet.nanosAsLong=true` in the SESSION
    * (`Sessions.defaults` — set by every graft entry point's builder); the
    * loader itself is read-only and never mutates conf. If a caller built
    * a session without it, the rethrow below names the fix. */
  def events(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame = {
    val raw =
      try table(spark, dir, "events", fanned)
      catch { case e: Throwable if isNanosFooterError(e) =>
        throw new IllegalArgumentException(
          s"$dir/events.parquet uses the legacy parquet TIMESTAMP(NANOS) " +
            "encoding; build the session with graft.Sessions.defaults " +
            "(spark.sql.legacy.parquet.nanosAsLong=true) to read it", e)
      }
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalArgumentException(
        s"events.ts in $dir/events.parquet has unsupported type ${other.simpleString} " +
          "(expected INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP) — " +
          "testdata encoding changed; extend Tables.events")
    }
  }
  /** True iff `e` is Spark refusing a parquet TIMESTAMP(NANOS) footer
    * because `spark.sql.legacy.parquet.nanosAsLong` is not set — the one
    * schema-inference failure the fixture gate must name actionably
    * instead of reporting the table "unreadable". */
  private def isNanosFooterError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { c =>
      val m = String.valueOf(c.getMessage)
      m.contains("TIMESTAMP(NANOS") || m.contains("NANOS is not supported")
    }

  def documents(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame =
    table(spark, dir, "documents", fanned)
  def embeddings(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame =
    table(spark, dir, "embeddings", fanned)

  /** Fixture smoke gate (VERDICT r7 §What's-missing 2): one actionable
    * diagnostic instead of N opaque per-query analysis errors when the
    * driver regenerates testdata with a different schema/encoding.
    * Checks every table for expected columns and ACCEPTED type families —
    * deliberately tolerant of encoding drift the loaders normalize
    * (ts as int64-nanos vs timestamp[us]), strict about anything else.
    * Returns the list of problems; empty = fixture compatible. */
  def fixtureProblems(spark: SparkSession, dir: String): Seq[String] = {
    val integral: DataType => Boolean =
      t => t == IntegerType || t == LongType || t == ShortType
    val timestampish: DataType => Boolean =
      t => t == TimestampType || t == TimestampNTZType || t == DateType || t == LongType
    val floatArray: DataType => Boolean = {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    val expected: Seq[(String, Seq[(String, DataType => Boolean, String)])] = Seq(
      "region" -> Seq(
        ("r_regionkey", integral, "integral"), ("r_name", _ == StringType, "string")),
      "nation" -> Seq(
        ("n_nationkey", integral, "integral"), ("n_name", _ == StringType, "string"),
        ("n_regionkey", integral, "integral")),
      "customer" -> Seq(
        ("c_custkey", integral, "integral"), ("c_name", _ == StringType, "string"),
        ("c_nationkey", integral, "integral"), ("c_acctbal", _ == DoubleType, "double"),
        ("c_mktsegment", _ == StringType, "string")),
      "supplier" -> Seq(
        ("s_suppkey", integral, "integral"), ("s_name", _ == StringType, "string"),
        ("s_nationkey", integral, "integral"), ("s_acctbal", _ == DoubleType, "double")),
      "part" -> Seq(
        ("p_partkey", integral, "integral"), ("p_name", _ == StringType, "string"),
        ("p_brand", _ == StringType, "string"), ("p_type", _ == StringType, "string"),
        ("p_size", integral, "integral"), ("p_retailprice", _ == DoubleType, "double")),
      "orders" -> Seq(
        ("o_orderkey", integral, "integral"), ("o_custkey", integral, "integral"),
        ("o_orderstatus", _ == StringType, "string"), ("o_totalprice", _ == DoubleType, "double"),
        ("o_orderdate", timestampish, "timestamp/date"),
        ("o_orderpriority", _ == StringType, "string")),
      "lineitem" -> Seq(
        ("l_orderkey", integral, "integral"), ("l_partkey", integral, "integral"),
        ("l_suppkey", integral, "integral"), ("l_linenumber", integral, "integral"),
        ("l_quantity", _ == DoubleType, "double"), ("l_extendedprice", _ == DoubleType, "double"),
        ("l_discount", _ == DoubleType, "double"), ("l_tax", _ == DoubleType, "double"),
        ("l_returnflag", _ == StringType, "string"), ("l_linestatus", _ == StringType, "string"),
        ("l_shipdate", timestampish, "timestamp/date")),
      "events" -> Seq(
        ("event_id", integral, "integral"), ("ts", timestampish, "timestamp (any supported encoding)"),
        ("user_id", integral, "integral"), ("event_type", _ == StringType, "string"),
        ("value", _ == DoubleType, "double"), ("props", _ == StringType, "string")),
      "documents" -> Seq(
        ("doc_id", integral, "integral"), ("text", _ == StringType, "string"),
        ("lang", _ == StringType, "string"), ("source", _ == StringType, "string"),
        ("n_chars", integral, "integral")),
      "embeddings" -> Seq(
        ("vec_id", integral, "integral"), ("embedding", floatArray, "array<float>"),
        ("label", integral, "integral")))
    expected.flatMap { case (name, cols) =>
      try {
        val schema = table(spark, dir, name).schema
        cols.flatMap { case (colName, ok, want) =>
          schema.fields.find(_.name == colName) match {
            case None =>
              Some(s"$name.$colName: MISSING (have: ${schema.fieldNames.mkString(", ")})")
            case Some(f) if !ok(f.dataType) =>
              Some(s"$name.$colName: found ${f.dataType.simpleString}, accepted: $want")
            case _ => None
          }
        }
      } catch {
        // legacy TIMESTAMP(NANOS) footer + session without the flag: name
        // the actual fix instead of "unreadable" (ADVICE r8 — this is the
        // exact fixture-flip scenario the gate was built to survive; with
        // Sessions.defaults in the builder the read succeeds and this
        // branch never fires)
        case e: Throwable if isNanosFooterError(e) =>
          Seq(s"$name: legacy parquet TIMESTAMP(NANOS) encoding — build " +
            "the session with graft.Sessions.defaults " +
            "(spark.sql.legacy.parquet.nanosAsLong=true)")
        case e: Throwable => Seq(s"$name: unreadable — ${e.getMessage}")
      }
    }
  }

  /** Throws one aggregated, actionable error if the fixture at `dir` is
    * incompatible. Call at tool entry (Verify/Bench) so a driver-side
    * regeneration surfaces as a single diagnostic naming table/column/type. */
  def validate(spark: SparkSession, dir: String): Unit = {
    val problems = fixtureProblems(spark, dir)
    if (problems.nonEmpty) throw new IllegalArgumentException(
      s"fixture at $dir incompatible (driver testdata regeneration?):\n  " +
        problems.mkString("\n  "))
  }

  /** Synthetic city/zone dimension (reference `geo` table:
    * /root/reference/src/scripts/save_mes_geo.py:30 — `id, city, lat_c, lon_c`).
    * Centroids are exact integer-derived doubles so Spark and DuckDB agree
    * bit-for-bit. SQL equivalent (oracle):
    * {{{
    * SELECT n_nationkey AS zone_id, n_name AS zone_name,
    *        CAST((n_nationkey*37) % 120 AS DOUBLE) - 59.5 AS lat_z,
    *        CAST((n_nationkey*73) % 360 AS DOUBLE) - 179.5 AS lon_z
    * FROM nation
    * }}}
    */
  def zones(spark: SparkSession, dir: String): DataFrame =
    nation(spark, dir).select(
      col("n_nationkey").as("zone_id"),
      col("n_name").as("zone_name"),
      ((col("n_nationkey") * 37) % 120).cast("double").minus(lit(59.5)).as("lat_z"),
      ((col("n_nationkey") * 73) % 360).cast("double").minus(lit(179.5)).as("lon_z"))

  /** Events with deterministic synthetic coordinates (FIXTURES.md §3 maps the
    * reference's per-event `lat`/`lon` — save_mes_geo.py:39 — onto testdata by
    * deriving degrees from `event_id`; exact in IEEE double on both engines).
    * SQL: `((event_id*13) % 1200) / 10.0 - 60.0`, `((event_id*29) % 3600) / 10.0 - 180.0`.
    */
  def eventsGeo(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame =
    events(spark, dir, fanned)
      .withColumn("lat_e", ((col("event_id") * 13) % 1200) / lit(10.0) - lit(60.0))
      .withColumn("lon_e", ((col("event_id") * 29) % 3600) / lit(10.0) - lit(180.0))

  /** Shared oracle-SQL CTE snippets so every query's DuckDB SQL derives the
    * identical synthetic dimensions. */
  object Sql {
    val zones: String =
      """zones AS (
        |  SELECT n_nationkey AS zone_id, n_name AS zone_name,
        |         CAST((n_nationkey*37) % 120 AS DOUBLE) - 59.5 AS lat_z,
        |         CAST((n_nationkey*73) % 360 AS DOUBLE) - 179.5 AS lon_z
        |  FROM nation)""".stripMargin

    val eventsGeo: String =
      """ev AS (
        |  SELECT *,
        |         ((event_id*13) % 1200) / 10.0 - 60.0  AS lat_e,
        |         ((event_id*29) % 3600) / 10.0 - 180.0 AS lon_e
        |  FROM events)""".stripMargin

    /** Haversine km (corrected semantics — SURVEY.md §2.8(a): the reference
      * omits radians(); we define distance WITH the conversion). */
    def haversine(lat1: String, lon1: String, lat2: String, lon2: String): String =
      s"2 * 6371.0 * asin(sqrt(" +
        s"pow(sin(radians($lat2 - $lat1) / 2), 2) + " +
        s"cos(radians($lat1)) * cos(radians($lat2)) * pow(sin(radians($lon2 - $lon1) / 2), 2)))"
  }
}
