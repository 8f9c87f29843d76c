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
    *  - compile once per session: repeated ops (the streaming twins'
    *    micro-batches, a refreshed lake) re-plan and regenerate the same
    *    whole-stage source, and Spark reuses the Janino compile of
    *    byte-identical source from its compiled-class cache. Plans and
    *    results are never cached; only compiled classes are.
    *    `spark.sql.codegen.useIdInClassName=false` names every generated
    *    pipeline `GeneratedIterator`: AQE numbers codegen stages in the
    *    order they materialize, so with the id in the name the same
    *    pipeline was `…Stage3` in one run and `…Stage1` in the next and
    *    missed the cache. The id stays in the plan and in the source's
    *    forced `codegenStageId` comment, which is not part of the cache
    *    key. `spark.sql.codegen.cache.maxEntries` (default 100) is sized
    *    from the measured working set: one lake cycle (`Pipeline` stages
    *    1–4 plus a store churn: ingest, two forgets, compaction) generates
    *    about 240 distinct classes and a catalog pass of cheap queries
    *    about 70, so a session running both needs about 310, and the
    *    default cache evicted and recompiled about 316 classes in every
    *    steady-state lake cycle. 1000 is about 3× that working set.
    *    COST: a cached class keeps its class loader and metaspace, about
    *    7 KB per entry (dropping the 238 entries of one lake cycle freed
    *    1.6 MB of metaspace), so a full cache holds about 7 MB per JVM. It
    *    is a static conf, read once per JVM at the first codegen, so it
    *    must be set here, at session build.
    *  - write each shuffle byte once: `spark.shuffle.sort.bypassMergeThreshold=0`.
    *    For a shuffle of at most that many reducers (default 200: every
    *    exchange at `local[N]`, and most production ones) Spark picks the
    *    bypass-merge writer, which writes each map output twice: once into
    *    one temp file per reducer, then again when it concatenates them
    *    into the map's data file. With 0 every SQL exchange (no map-side
    *    combine, the relocatable UnsafeRow serializer) takes the serialized
    *    sort-shuffle writer, which sorts record pointers in memory and,
    *    when a map output fits in one spill, moves that spill into place
    *    instead of copying it. Measured on a 4-core VM at `local[4]`
    *    (perfbench inputs, `/proc/self/io` `wchar`, 10 pairs): catalog_floor,
    *    whose plans this alone changes, `write_amp` 0.382 → 0.191 with
    *    `cpu_s` and `peak_rss_mb` flat. Both keys are SparkConf (core)
    *    keys, read when the SparkContext starts, so they must be set here,
    *    at session build.
    *  - `spark.buffer.pageSize=4m`: each map task of that writer takes one
    *    Tungsten page at its first record, and the default page is sized
    *    from the heap (up to 64 MiB), so with N concurrent map tasks the
    *    switch would hold N large pages at once. At 4 MiB a `local[4]`
    *    session holds 16 MiB of them, and lake_cycle `peak_rss_mb` stayed
    *    flat (−1.5 %, 10 pairs). The page size also bounds the pages of
    *    sorts and hash aggregates: a task can address 8192 pages, 32 GiB
    *    at 4 MiB, and a record larger than a page gets a page of its own.
    */
  val defaults: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.parquet.pushdown.inFilterThreshold" -> "1000",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.buffer.pageSize" -> "4m",
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
