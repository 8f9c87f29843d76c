package graft

import org.apache.spark.sql.SparkSession

/** The ONE home for session-level SQL conf every graft entry point shares
  * (Verify, Bench, Pipeline, dev tools, and the test session). Keeping
  * these in a single map means a conf added for correctness (e.g. the
  * legacy-nanos parquet flag) cannot silently apply to one tool and not
  * another — the r7 fixture incident started exactly that way.
  */
object Sessions {
  /** Session defaults, applied by [[local]], Bench, Verify and the test session:
    *  - UTC session timezone: the events loader's TIMESTAMP_NTZ
    *    normalization is timezone-sensitive; every engine entry point must
    *    see the same wall-clock values the DuckDB oracle sees.
    *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the driver has shipped
    *    `events.ts` as parquet TIMESTAMP(NANOS) (rounds 1-6); without this
    *    flag Spark cannot even infer that footer's schema. It is a no-op
    *    for every other encoding, so it is safe to set unconditionally —
    *    and setting it HERE (session setup) keeps `Tables.events`
    *    read-only instead of mutating conf per plan construction.
    *  - graft extensions: the as-of-join planner pipeline + SQL functions.
    *  - IN-pushdown threshold raised to 1000: presence probes over
    *    bloom-filtered postings push the forget batch's id list down as
    *    per-value parquet predicates (row-group bloom skip); above the
    *    default 10 Spark would degrade the pushdown to a [min,max] range,
    *    which broad scattered id sets cannot prune with. BLAST RADIUS:
    *    the setting is session-global, so EVERY query with a 10..1000-
    *    value isin — not just the presence probes — now evaluates its
    *    OR-tree against each row group's stats/blooms at scan time. On
    *    this engine's catalog that is the right trade (the large isin
    *    lists are the probes, which the blooms were built for; the fuzz
    *    and TPC-H families carry single-digit lists), but a workload
    *    with huge unselective isin filters over bloom-less tables should
    *    scope the conf to its probe reads instead.
    */
  val defaults: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.parquet.pushdown.inFilterThreshold" -> "1000",
    "spark.sql.extensions" -> "graft.GraftExtensions")

  /** The local-mode session every dev main shares (Explain, Pipeline,
    * graft.tools): `local[N]` with N shuffle partitions, [[defaults]],
    * WARN logging. N is `SPARK_GRAFT_CPUS` when set, else every core this
    * JVM sees — never a hardcoded count, which would silently
    * oversubscribe (or starve) the host it runs on. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(defaults)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
