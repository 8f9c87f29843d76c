package graft.ops

import graft.ops.Checkpoints._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ONE lifecycle for persisted sharded parquet stores (signature
  * index, cluster store, and any future stateful table family): crash-safe
  * staged shard rewrites with a store-level commit marker, recovery to a
  * consistent boundary at open, and tiny-file manifest/pointer utilities.
  * Extracted from DedupOps/StreamingOps (round-16 unification) so every
  * new store reuses one proven protocol instead of re-deriving it.
  *
  * ## The staged-shard-swap protocol
  *
  * A mutation that must replace whole shard directories — possibly across
  * SEVERAL tables of one store — runs as:
  *
  *   1. [[stage]] each table's complete replacement content under
  *      `<table>/.staging/<ptCol>=K` (dot-prefixed: parquet partition
  *      discovery ignores it). All reads feeding a staging run against the
  *      UNTOUCHED live dirs and materialize fully to disk, so no lineage
  *      into live data survives into the swap. A shard whose replacement
  *      is EMPTY gets an empty marker dir — see below.
  *   2. [[commit]] writes the store-level `_commit` marker — the single
  *      point of no return, AFTER every table's staging is complete.
  *   3. [[swap]] each table: per shard, live → `.old.<ptCol>=K`,
  *      staged → live, drop `.old.`; then drop the staging dir.
  *   4. [[clearCommit]] removes the marker.
  *
  * [[recover]] (run at store open) makes any crash point consistent:
  * marker present → every table rolls FORWARD (all stagings completed
  * before the marker existed; [[swapOne]] is idempotent across all its
  * crash states); marker absent → every table rolls BACK (restore `.old.`
  * backups, discard stagings). Because no swap starts before the marker
  * is written and the marker is cleared only after every swap finishes,
  * the two tables of a store can never land on OPPOSITE sides of the
  * rewrite boundary — the r15 cross-table window (one table's staging
  * complete, the other's not, each recovered in a different direction)
  * is structurally closed.
  *
  * ## Emptied shards vs fully-swapped shards
  *
  * A shard whose replacement content is EMPTY must be RETIRED at swap
  * (the r15 `_pts` manifest lesson: a forget that empties a shard leaves
  * no staged dir, and recovery must still remove the live one). But "no
  * staged dir" is also what a shard looks like AFTER its swap completed —
  * and conflating the two made a re-run of the swap (a roll-forward after
  * a mid-swap crash) retire a freshly-swapped shard's LIVE content. The
  * fix is structural: [[stage]] creates an explicit EMPTY marker dir for
  * every affected shard with no rows, so at swap time "staged dir with
  * files" = install, "staged dir without files" = retire, "no staged
  * dir" = already swapped, do nothing. Every state is distinguishable and
  * [[swapOne]] is idempotent without consulting history. */
object ShardedStore {

  /** One sharded table of a store: its directory and its partition
    * column (`<dir>/<ptCol>=K` shard layout). */
  final case class Table(dir: String, ptCol: String)

  def fs(spark: org.apache.spark.sql.SparkSession,
         path: String): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  // ----- tiny-file utilities (manifests, pointers, markers) ----------------

  /** Create-or-overwrite a small control file. */
  def writeTextFile(spark: org.apache.spark.sql.SparkSession,
                    path: String, content: String): Unit = {
    val out = fs(spark, path).create(hp(path), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def readTextFile(spark: org.apache.spark.sql.SparkSession,
                   path: String): String = {
    val in = fs(spark, path).open(hp(path))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Zero-byte sentinel (seals, markers). */
  def touch(f: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    f.create(hp(path), true).close()
  }

  /** Extract an integer field from a one-line JSON manifest; None when
    * absent (regex extraction — manifests here are flat int maps written
    * by [[writeManifest]], never nested). */
  def jsonField(s: String, k: String): Option[Long] =
    ("\"" + k + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(s).map(_.group(1).toLong)

  // ----- the store manifest ---------------------------------------------------

  private def manifestFile(root: String) = s"$root/_manifest.json"

  def hasManifest(spark: org.apache.spark.sql.SparkSession, root: String): Boolean =
    fs(spark, root).exists(hp(manifestFile(root)))

  /** Writes a store's `_manifest.json`: one line of flat int fields, in the
    * given order. Stores write it LAST at bootstrap, so a readable manifest
    * implies a complete store. */
  def writeManifest(spark: org.apache.spark.sql.SparkSession, root: String,
                    fields: (String, Long)*): Unit =
    writeTextFile(spark, manifestFile(root),
      fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))

  /** A read manifest; [[apply]] throws on a missing field. */
  final case class Manifest(root: String, text: String) {
    def get(k: String): Option[Long] = jsonField(text, k)
    def apply(k: String): Long = get(k).getOrElse(throw new IllegalArgumentException(
      s"manifest at $root missing '$k': $text"))
  }

  /** The layout version a store's code reads: its manifest's `fmt` must be
    * `want`; a manifest without the field reads as `absent` (None: the
    * store predates versioning and is refused). */
  final case class Fmt(want: Long, absent: Option[Long])

  /** Reads the `_manifest.json` of `store` at `root`. Throws when there is
    * none (not this store's layout, or a bootstrap that died before its
    * manifest) and, for a versioned store, when the layout is foreign —
    * mutating a foreign layout in place would corrupt it. */
  def readManifest(spark: org.apache.spark.sql.SparkSession, root: String,
                   store: String, fmt: Option[Fmt] = None): Manifest = {
    require(hasManifest(spark, root),
      s"$store at $root has no manifest — not a $store layout (or an incomplete bootstrap)")
    val m = Manifest(root, readTextFile(spark, manifestFile(root)))
    fmt.foreach { case Fmt(want, absent) =>
      val got = m.get("fmt").orElse(absent)
      require(got.contains(want),
        s"$store at $root has layout fmt=${got.getOrElse("none (pre-r17)")} but " +
          s"this build reads fmt=$want — rebuild it from its sources or migrate it " +
          "offline; mutating it in place would corrupt the foreign layout")
    }
    m
  }

  // ----- shards and frames ------------------------------------------------------

  /** The shard of a key: `pmod(key, nParts)` as INT — the one shard
    * function of every sharded table (band keys shard by their
    * `xxhash64`). */
  def shard(key: Column, nParts: Int): Column = pmod(key, lit(nParts.toLong)).cast("int")

  /** [[shard]] on the driver, for a long key. */
  def shardOf(key: Long, nParts: Int): Int = (((key % nParts) + nParts) % nParts).toInt

  /** The distinct shards of `key` over `df`, collected (at most nParts
    * values — never data-sized). */
  def shardsOf(df: DataFrame, key: Column, nParts: Int): Seq[Int] =
    df.select(shard(key, nParts).as("pt")).distinct().collect().map(_.getInt(0)).toSeq

  /** An empty frame of the given DDL schema. */
  def empty(spark: org.apache.spark.sql.SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Pointer rewrite: staged to a temp file, then delete+rename. The
    * window between delete and rename leaves NO pointer — the CALLER's
    * recovery must repair a missing pointer (HDFS rename cannot
    * overwrite, so a truly atomic in-place rewrite is not available). */
  def writePointer(spark: org.apache.spark.sql.SparkSession,
                   dir: String, name: String, content: String): Unit = {
    val f = fs(spark, dir)
    val tmp = hp(s"$dir/._${name}_tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    f.delete(hp(s"$dir/$name"), false)
    f.rename(tmp, hp(s"$dir/$name")): Unit
  }

  // ----- the staged-shard-swap lifecycle ------------------------------------

  /** Phase 1: write `kept` (the full replacement content for the shards
    * being rewritten) under the table's staging dir, repartitioned BY THE
    * SHARD KEY into one task per affected shard, so each shard dir
    * receives one file. `pts` is the FULL affected-shard list: shards in it
    * with no rows in `kept` get an EMPTY marker dir (they are being RETIRED
    * — see the object comment), and the `_pts` manifest is written LAST, so
    * its presence implies a complete staging. Returns the table and its
    * shards for [[install]]. */
  def stage(kept: DataFrame, table: Table, pts: Seq[Int]): (Table, Seq[Int]) = {
    kept.repartition(math.max(pts.size, 1), col(table.ptCol))
      .write.mode("overwrite").partitionBy(table.ptCol)
      .parquet(s"${table.dir}/.staging")
    val spark = kept.sparkSession
    val f = fs(spark, table.dir)
    pts.foreach { pt =>
      val staged = hp(s"${table.dir}/.staging/${table.ptCol}=$pt")
      if (!f.exists(staged)) f.mkdirs(staged): Unit
    }
    writeTextFile(spark, s"${table.dir}/.staging/_pts", pts.mkString(","))
    (table, pts)
  }

  /** Idempotent single-shard swap (phase 3 step). States it handles:
    * staged dir with files → install (backup live aside, rename staged
    * in); staged dir WITHOUT files → the shard is being retired (its
    * replacement is empty): drop live and the marker; NO staged dir → a
    * previous attempt already installed this shard (or it was never
    * affected): leave live alone. Any `.old.` backup is dropped last, so
    * every crash point inside this function re-runs cleanly. */
  private def swapOne(f: org.apache.hadoop.fs.FileSystem, table: Table,
                      pt: Int): Unit = {
    val live = hp(s"${table.dir}/${table.ptCol}=$pt")
    val old = hp(s"${table.dir}/.old.${table.ptCol}=$pt")
    val staged = hp(s"${table.dir}/.staging/${table.ptCol}=$pt")
    if (f.exists(staged)) {
      if (f.listStatus(staged).exists(_.isFile)) {
        if (f.exists(live)) { f.delete(old, true); f.rename(live, old): Unit }
        f.rename(staged, live): Unit
      } else { // empty marker dir: the shard is retired
        f.delete(live, true)
        f.delete(staged, true): Unit
      }
    }
    f.delete(old, true): Unit
  }

  /** Phase 3: swap every affected shard, then drop the staging dir. Must
    * only run after [[commit]] — recovery rolls BACK any staging not
    * covered by the store's `_commit` marker. */
  def swap(spark: org.apache.spark.sql.SparkSession, table: Table,
           pts: Seq[Int]): Unit = {
    val f = fs(spark, table.dir)
    pts.foreach(swapOne(f, table, _))
    // defensive: a staged shard the caller's pts list missed is INSTALLED,
    // never dropped with the staging dir
    val staging = hp(s"${table.dir}/.staging")
    if (f.exists(staging))
      f.listStatus(staging).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"${table.ptCol}="))
        .map(_.stripPrefix(s"${table.ptCol}=").toInt)
        .foreach(swapOne(f, table, _))
    f.delete(staging, true): Unit
  }

  private def commitMarker(storeRoot: String) = s"$storeRoot/_commit"

  /** Phases 2–4 for every table one mutation staged ([[stage]]'s results):
    * write the commit marker, swap each table in the given order, clear
    * the marker. No-op when nothing was staged. The three steps stay
    * public so crash specs can stop between them. */
  def install(spark: org.apache.spark.sql.SparkSession, storeRoot: String,
              staged: Seq[(Table, Seq[Int])]): Unit =
    if (staged.nonEmpty) {
      commit(spark, storeRoot)
      staged.foreach { case (t, pts) => swap(spark, t, pts) }
      clearCommit(spark, storeRoot)
    }

  /** Phase 2: the point of no return. Call AFTER every table of the
    * store has staged completely; from here recovery rolls the WHOLE
    * store forward. */
  def commit(spark: org.apache.spark.sql.SparkSession, storeRoot: String): Unit =
    touch(fs(spark, storeRoot), commitMarker(storeRoot))

  /** Phase 4: all swaps done; the rewrite boundary is fully installed. */
  def clearCommit(spark: org.apache.spark.sql.SparkSession,
                  storeRoot: String): Unit = {
    fs(spark, storeRoot).delete(hp(commitMarker(storeRoot)), false): Unit
  }

  /** Rolls ALL tables of a store to one consistent rewrite boundary after
    * a crash — run at store open. `_commit` present → every table rolls
    * FORWARD (re-run the swap for every shard in the staging's `_pts`
    * manifest plus every staged and half-swapped one; tables whose swap
    * already finished are untouched); absent → every table rolls BACK
    * (half-swapped shards restored from `.old.` backups, stagings
    * discarded — under the protocol no swap starts before the marker, so
    * backups here can only be leftovers of an already-recovered crash).
    * Idempotent; no-op on a clean store. */
  def recover(spark: org.apache.spark.sql.SparkSession, storeRoot: String,
              tables: Seq[Table]): Unit = {
    val f = fs(spark, storeRoot)
    if (!f.exists(hp(storeRoot))) return
    val committed = f.exists(hp(commitMarker(storeRoot)))
    tables.foreach { t =>
      if (f.exists(hp(t.dir))) {
        if (committed) rollForward(spark, f, t) else rollBack(f, t)
      }
    }
    if (committed) clearCommit(spark, storeRoot)
  }

  private def listOldPts(f: org.apache.hadoop.fs.FileSystem, t: Table): Seq[Int] =
    f.listStatus(hp(t.dir)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s".old.${t.ptCol}="))
      .map(_.stripPrefix(s".old.${t.ptCol}=").toInt)

  private def rollForward(spark: org.apache.spark.sql.SparkSession,
                          f: org.apache.hadoop.fs.FileSystem, t: Table): Unit = {
    val staging = hp(s"${t.dir}/.staging")
    val ptsFile = hp(s"${t.dir}/.staging/_pts")
    val stagedComplete = f.exists(hp(s"${t.dir}/.staging/_SUCCESS")) &&
      f.exists(ptsFile)
    if (stagedComplete) {
      val manifestPts = readTextFile(spark, s"${t.dir}/.staging/_pts")
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt)
      val stagedPts = f.listStatus(staging).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"${t.ptCol}="))
        .map(_.stripPrefix(s"${t.ptCol}=").toInt)
      swap(spark, t, (manifestPts ++ stagedPts ++ listOldPts(f, t)).distinct)
    } else {
      // this table's swap already finished (its staging is gone), or —
      // defensively — a marker without a complete staging: sweep backups
      // (live is final) and drop staging litter
      listOldPts(f, t).foreach { pt =>
        val live = hp(s"${t.dir}/${t.ptCol}=$pt")
        val old = hp(s"${t.dir}/.old.${t.ptCol}=$pt")
        if (!f.exists(live)) f.rename(old, live) else f.delete(old, true): Unit
      }
      if (f.exists(staging)) f.delete(staging, true): Unit
    }
  }

  // ----- deletion vector ------------------------------------------------------
  //
  // The logical-forget idiom shared by the signature index and the IVF
  // index: retraction appends ids to a tiny table (O(|F|) write I/O,
  // corpus-independent), probes anti-join it (broadcast below a size
  // threshold, FORCED shuffle-hash above — the planner's own estimate
  // could still broadcast an unbounded set), and a maintenance pass
  // settles the debt physically. Appends FOLD the table once it
  // accumulates `foldMinFiles` files; folds and removals follow the
  // append-then-delete-old idiom, so every crash point leaves a SUPERSET
  // of the intended rows — a forgotten id never becomes matchable early.

  /** One deletion vector: its directory and its id column name. */
  final case class DeletionVector(dir: String, idCol: String) {
    private def schema = org.apache.spark.sql.types.StructType.fromDDL(
      s"$idCol BIGINT")

    def exists(spark: org.apache.spark.sql.SparkSession): Boolean =
      fs(spark, dir).exists(hp(dir))

    /** On-disk bytes; 0 when absent. */
    def bytes(spark: org.apache.spark.sql.SparkSession): Long =
      if (!exists(spark)) 0L
      else fs(spark, dir).listStatus(hp(dir)).toSeq.filter(_.isFile).map(_.getLen).sum

    def ids(spark: org.apache.spark.sql.SparkSession): DataFrame =
      spark.read.schema(schema).parquet(dir)

    private def parquetFiles(spark: org.apache.spark.sql.SparkSession) =
      fs(spark, dir).listStatus(hp(dir)).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)

    /** Append `newIds` (single `idCol` column or coercible); folds to one
      * file at `foldMinFiles`. Idempotent under replay (duplicates are
      * harmless to the anti-joins and collapsed at the next fold). */
    def append(newIds: DataFrame, foldMinFiles: Int = 4): Unit = {
      val spark = newIds.sparkSession
      newIds.select(col(idCol).cast("long").as(idCol)).distinct()
        .coalesce(1).write.mode("append").parquet(dir)
      val files = parquetFiles(spark)
      if (files.size >= foldMinFiles) {
        // settle first (the fold reads the table it appends to), write
        // the consolidated file, THEN drop exactly the pre-fold files
        settled(ids(spark).distinct())(_.coalesce(1).write.mode("append").parquet(dir))
        files.foreach(p => fs(spark, dir).delete(p, false): Unit)
      }
    }

    /** Anti-join `df` against the vector on `idCol` — a no-op plan when
      * the vector is absent, broadcast below `maxBroadcastBytes`, forced
      * shuffle-hash above. */
    def anti(df: DataFrame, maxBroadcastBytes: Long): DataFrame = {
      val spark = df.sparkSession
      if (!exists(spark)) df
      else {
        val t = ids(spark)
        val guarded =
          if (bytes(spark) <= maxBroadcastBytes) broadcast(t)
          else t.hint("shuffle_hash")
        df.join(guarded, Seq(idCol), "left_anti")
      }
    }

    /** Remove `dropIds`' rows (the re-ingest path's un-forget step):
      * settled kept rows land as a NEW file before the pre-write files
      * drop — every intermediate state is a superset. The build side is
      * guarded like [[anti]]'s (broadcast below `maxBroadcastBytes`,
      * forced shuffle-hash above — batch-sized by contract, but the
      * contract is cheap to insure): `dropIds` is in-memory, so the
      * estimate is row-count-based rather than on-disk bytes. */
    def remove(dropIds: DataFrame,
               maxBroadcastBytes: Long = 64L << 20): Unit = {
      val spark = dropIds.sparkSession
      if (!exists(spark)) return
      val before = parquetFiles(spark)
      settled(dropIds.select(col(idCol))) { drops =>
        // ~24 bytes per broadcast-hash-table long row, conservatively
        val build =
          if (drops.count() * 24L <= maxBroadcastBytes) broadcast(drops)
          else drops.hint("shuffle_hash")
        settled(ids(spark).join(build, Seq(idCol), "left_anti").distinct()) { kept =>
          if (!kept.isEmpty) kept.coalesce(1).write.mode("append").parquet(dir)
        }
      }
      before.foreach(p => fs(spark, dir).delete(p, false): Unit)
    }

    /** Drop the whole vector (after a physical purge settled the debt). */
    def drop(spark: org.apache.spark.sql.SparkSession): Unit = {
      fs(spark, dir).delete(hp(dir), true): Unit
    }
  }

  private def rollBack(f: org.apache.hadoop.fs.FileSystem, t: Table): Unit = {
    listOldPts(f, t).foreach { pt =>
      val live = hp(s"${t.dir}/${t.ptCol}=$pt")
      val old = hp(s"${t.dir}/.old.${t.ptCol}=$pt")
      // a backup without the commit marker is a leftover: the pre-rewrite
      // content is authoritative, whatever half-installed state sits live
      if (f.exists(live)) f.delete(live, true)
      f.rename(old, live): Unit
    }
    val staging = hp(s"${t.dir}/.staging")
    if (f.exists(staging)) f.delete(staging, true): Unit
  }
}
