package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, shiftleft, shiftright}
import org.apache.spark.sql.types.StructType

/** Parquet sink/scan operators — the reference's storage layer (S1–S5 in
  * SURVEY.md §2.1): idempotent full-overwrite marts and hive-partitioned
  * layouts with pruning on read.
  */
object Sinks {

  /** Idempotent full-refresh mart write (reference S4:
    * save_mes_geo.py:50 `mode("overwrite")`). */
  def writeMart(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Hive-partitioned mart (reference S5: calculate_zone_report.py:60
    * `partitionBy("week")`) — downstream readers prune partitions via
    * filters on the partition column. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.partitionBy(partitionCols: _*).mode(SaveMode.Overwrite).parquet(path)

  /** Root-path read + partition-column filter: Catalyst's
    * PruneFileSourcePartitions turns the filter into directory pruning —
    * replaces the reference's manual `date=...` path enumeration
    * (save_mes_geo.py:16-22, S2/S3) with the declarative form. */
  def readPartition(spark: SparkSession, path: String, partitionCol: String,
                    value: Any): DataFrame =
    spark.read.parquet(path).where(col(partitionCol) === value)

  /** Explicit multi-path scan (reference S2: `spark.read.parquet(*paths)`
    * over enumerated `date=` dirs, save_mes_geo.py:31) — for lakes without
    * a uniform hive layout where filter-based pruning can't apply. */
  def readPaths(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths: _*)

  /** The reference's N-day sliding window (save_mes_geo.py:16-22 builds
    * `date=` paths for [date−depth+1, date]) as a declarative
    * partition-pruned read: root scan + BETWEEN on the partition column —
    * Catalyst prunes to exactly the window's directories. */
  def readDateWindow(spark: SparkSession, path: String, partitionCol: String,
                     endDate: String, depthDays: Int): DataFrame = {
    val end = java.time.LocalDate.parse(endDate)
    val start = end.minusDays(depthDays - 1L)
    spark.read.parquet(path)
      .where(col(partitionCol).between(start.toString, end.toString))
  }

  /** Bucketed + sorted table write: repeated joins/aggregations on the
    * bucket key read co-located data and skip the exchange entirely — the
    * standing-layout answer to "this join shuffles 100 TB every night".
    * Requires a catalog table (saveAsTable); both join sides bucketed by
    * the same key into the same bucket count → sort-merge join with NO
    * shuffle on either side. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    nBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Format-parameterized full-overwrite sink — completes the lake's
    * storage matrix beyond parquet ("orc", "csv", "json", "parquet"); the
    * header option is honored by CSV and ignored by the binary formats. */
  def writeAs(df: DataFrame, path: String, format: String): Unit =
    df.write.mode(SaveMode.Overwrite).format(format)
      .option("header", "true").save(path)

  /** Format-parameterized scan with an explicit schema — CSV/JSON carry no
    * (or weak) type information, so the reader never infers: inference
    * costs an extra full pass at scale AND can silently change types
    * between runs. ORC/parquet validate the supplied schema instead. */
  def readAs(spark: SparkSession, path: String, format: String,
             schema: StructType): DataFrame =
    spark.read.format(format).schema(schema)
      .option("header", "true").load(path)

  /** Incremental partition refresh: overwrite ONLY the partitions present
    * in `df`, leaving all others untouched (dynamic partitionOverwriteMode,
    * scoped to this one write). The 100 TB upgrade over the reference's
    * full-refresh overwrite (S4): a daily batch rewrites its own `date=`
    * directories idempotently instead of deleting the whole mart. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Morton (Z-order) interleave of two bucketized dimensions — the
    * data-layout key behind multi-column data skipping: rows close in
    * (a, b) space land in the same files, so per-file min/max statistics
    * prune scans on EITHER dimension. `a`,`b` must already be bucketized
    * into [0, 2^bits). Pure bitwise column arithmetic (codegen'd). */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zValue: bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a.cast("long"), i) % 2L, 2 * i) +
        shiftleft(shiftright(b.cast("long"), i) % 2L, 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Z-ordered table write: range-partition and sort by the Morton value
    * of two bucketized columns, so file-level min/max stats become tight
    * bounding boxes in BOTH dimensions (Delta/Iceberg OPTIMIZE ZORDER,
    * expressed with stock Spark: repartitionByRange + sortWithinPartitions).
    * At 100 TB this is the difference between scanning every file and
    * pruning to the handful intersecting the query's predicate box. */
  def writeZOrdered(df: DataFrame, path: String, a: Column, b: Column,
                    bits: Int, nFiles: Int): Unit =
    df.withColumn("__z", zValue(a, b, bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Key-based SCD-1 merge into a hive-partitioned parquet snapshot: rows in
    * `updates` replace same-key rows (highest `versionCol` wins; `updates`
    * beats the snapshot on version ties), new keys append. Only partitions
    * present in `updates` are read back and rewritten — a partition-pruned
    * scan plus dynamic partition overwrite — so the cost scales with the
    * update batch's partition footprint, not the table size: the stock-Spark
    * expression of a Delta/Iceberg MERGE for append-mostly lakes (upgrade of
    * the reference's full-refresh S4 overwrite, save_mes_geo.py:50).
    *
    * PRECONDITIONS: the snapshot exists (first load goes through
    * `writePartitioned`); a key never changes partition (the partition
    * column is immutable per key) — a moved key would strand its old row in
    * an untouched directory. The distinct partition-tuple collect is
    * driver-side but bounded by the batch's partition count, not by rows.
    *
    * The merged slice stages through a sibling temp dir because Spark
    * (correctly) refuses to overwrite a path that feeds the running plan.
    */
  def mergeUpsert(spark: SparkSession, path: String, updates: DataFrame,
                  keyCols: Seq[String], partitionCols: Seq[String],
                  versionCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{lit, row_number}
    // the batch is consumed twice (footprint probe + merge) — cache it
    // rather than recompute the caller's lineage per action
    val u = updates.persist()
    try {
      val parts = u.select(partitionCols.map(col): _*).distinct().collect()
      if (parts.isEmpty) return
      val pred = parts.map { r =>
        partitionCols.zipWithIndex
          .map { case (c, i) => col(c) <=> lit(r.get(i)) }
          .reduce(_ && _)
      }.reduce(_ || _)
      // explicit schema (the documented precondition: updates match the
      // snapshot's shape) — also keeps a file-less snapshot dir readable,
      // e.g. a first load whose source window was empty
      val existing = spark.read.schema(u.schema).parquet(path).where(pred)
      val merged = existing.withColumn("__src", lit(0))
        .unionByName(u.withColumn("__src", lit(1)))
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col(versionCol).desc, col("__src").desc)
      val latest = merged.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn", "__src")
      val tmp = path.stripSuffix("/") + "__merge_tmp"
      val fs = ShardedStore.fs(spark, tmp)
      try {
        // cluster by partition column before writing: the window above
        // leaves the data hash-partitioned by KEY, where every task holds
        // rows of every partition — writing that directly fans out
        // tasks × partitions tiny files per merge (the small-file
        // accretion compact() exists to undo; don't create it here)
        latest.repartition(partitionCols.map(col): _*)
          .write.mode(SaveMode.Overwrite).parquet(tmp)
        // failure inside overwritePartitions can leave a subset of
        // partitions merged; rerunning the same batch is idempotent
        // (latest-version-wins) and completes the merge
        overwritePartitions(spark.read.parquet(tmp), path, partitionCols)
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        ()
      }
    } finally u.unpersist()
  }

  /** Targeted delete (the right-to-be-forgotten / data-retention op):
    * remove every row matching `pred` from a hive-partitioned parquet
    * snapshot, rewriting ONLY partitions that contain matching rows —
    * cost scales with the predicate's partition footprint, not the table
    * size. Returns the number of rows deleted.
    *
    * Semantics pinned by LakeMaintSpec:
    *  - NULL-evaluating predicates do NOT delete (keep = NOT
    *    coalesce(pred, false)) — a plain `where(!pred)` would silently
    *    drop null rows, losing data that was never asked to be deleted;
    *  - a partition whose every row matches is REMOVED outright (dynamic
    *    partition overwrite alone cannot express an empty partition — it
    *    only touches partitions present in the written frame, so a fully
    *    deleted partition would otherwise keep its stale files);
    *  - untouched partitions' files are not rewritten.
    *
    * The affected-partition probe reads only the predicate + partition
    * columns (column-pruned, filter pushed down); its distinct collect is
    * bounded by the footprint's partition count. Partition values are
    * rendered with Spark's default hive-style escaping for simple types —
    * the snapshot layouts this lake writes (`writePartitioned`). */
  def deleteWhere(spark: SparkSession, path: String, pred: Column,
                  partitionCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val snap = spark.read.parquet(path)
    val affected = snap.where(pred)
      .select(partitionCols.map(col): _*).distinct().collect()
    if (affected.isEmpty) return 0L
    val partPred = affected.map { r =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    val slice = snap.where(partPred).persist()
    val tmp = path.stripSuffix("/") + "__delete_tmp"
    val fs = ShardedStore.fs(spark, path)
    try {
      val deleted = slice.where(coalesce(pred, lit(false))).count()
      val surviving = slice.where(!coalesce(pred, lit(false)))
      val survivingParts = surviving
        .select(partitionCols.map(col): _*).distinct().collect()
        .map(r => partitionCols.indices.map(r.get).toSeq).toSet
      surviving.repartition(partitionCols.map(col): _*)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      // NOTE: a failure inside overwritePartitions can leave the snapshot
      // with some partitions rewritten and others not (dynamic partition
      // overwrite is per-partition atomic, not per-call atomic); rerunning
      // deleteWhere with the same predicate is idempotent and completes
      // the delete.
      overwritePartitions(spark.read.parquet(tmp), path, partitionCols)
      // fully-emptied partitions: no surviving rows → dynamic overwrite
      // never touched them → drop their directories explicitly, rendered
      // EXACTLY as Spark's commit protocol writes them (hive escaping for
      // special chars, __HIVE_DEFAULT_PARTITION__ for null) — a
      // hand-rolled "col=value" misses the on-disk name for values
      // needing escaping and would silently strand the stale rows
      affected.foreach { r =>
        val key = partitionCols.indices.map(r.get).toSeq
        if (!survivingParts.contains(key)) {
          val dir = partitionCols.zipWithIndex.map { case (c, i) =>
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .getPartitionPathString(c,
                if (r.isNullAt(i)) null else String.valueOf(r.get(i)))
          }.mkString("/")
          fs.delete(new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "/" + dir), true)
        }
      }
      deleted
    } finally {
      slice.unpersist()
      // always reap the staging dir, even when the write/read-back/
      // overwrite throws — a stale __delete_tmp would otherwise sit
      // beside the snapshot (and a rerun would read its leftovers)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      ()
    }
  }

  /** Small-file compaction: rewrite a table directory into ~`targetRowsPerFile`
    * row files. Long-running lakes accrete tiny files (every incremental
    * write adds some); scans then pay per-file open/footer costs and the
    * namenode pays per-object metadata — compaction restores scan-sized
    * files. Row-count proxy avoids a full size scan; the rewrite is a
    * narrow round-robin repartition (no key shuffle). Returns output file
    * count. */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long): Int = {
    val df = spark.read.parquet(path)
    val rows = df.count()
    val nFiles = math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
    val tmp = path.stripSuffix("/") + "__compact_tmp"
    df.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(tmp)
    // backup-first swap: at every instant either the old or the new copy is
    // intact under a recoverable name (delete-then-rename would have a
    // window where an interruption loses the table entirely)
    val fs = ShardedStore.fs(spark, tmp)
    val dst = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__compact_bak")
    fs.delete(bak, true)
    fs.rename(dst, bak)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
    fs.delete(bak, true)
    nFiles
  }
}
