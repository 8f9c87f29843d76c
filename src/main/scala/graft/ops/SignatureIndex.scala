package graft.ops

import graft.ops.Checkpoints._
import graft.ops.DedupOps.{lshBandKeys, minhashSignature}
import graft.ops.ShardedStore.{shard, shardsOf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted dedup SIGNATURE INDEX: one object owns its layout, its
  * manifest and every mutation of it. Rows come from
  * [[DedupOps.signatureIndex]] (doc_id, hs, sig, bands); the index keeps
  * them as two sharded tables plus a deletion vector:
  *
  *  - `bands/band_pt=K/` — one (doc_id, bk) row per (doc, band key),
  *    hash-partitioned by band key: the PROBE side. A batch touches only
  *    the shards its own band keys hash into, so partition pruning skips
  *    every other shard's files before any I/O happens.
  *  - `sigs/doc_pt=K/` — one (doc_id, hs) row per doc, hash-partitioned
  *    by doc id: the VERIFICATION payload, fetched only for band-collided
  *    docs (and pruned to their doc_pt shards). `hs` is the complete
  *    per-doc state — signature and band keys are deterministic functions
  *    of it ([[DedupOps.minhashSignature]] / [[DedupOps.lshBandKeys]]), so
  *    storing them again would only widen every write and every fetch.
  *  - `tombstones/` — the logical-forget deletion vector (see [[tombstone]]).
  *
  * Forget and compaction replace whole shard directories, possibly across
  * BOTH tables, with [[ShardedStore]]'s staged-shard-swap: every affected
  * table stages its complete replacement first, then [[ShardedStore.install]]
  * commits and swaps. [[recover]] at open rolls ALL tables to the same
  * side of the boundary, so sigs and bands can never disagree about
  * whether a forget happened. */
object SignatureIndex {

  /** Default shard count of a new index. */
  val IndexParts = 32

  private val bandsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, bk STRING, band_pt INT")
  private val sigsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, hs ARRAY<BIGINT>, doc_pt INT")

  /** The verification payload table: (doc_id, hs, doc_pt). */
  def sigs(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.schema(sigsSchema).parquet(s"$indexPath/sigs")

  /** The probe table: (doc_id, bk, band_pt). */
  def bands(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.schema(bandsSchema).parquet(s"$indexPath/bands")

  private def tables(indexPath: String) = Seq(
    ShardedStore.Table(s"$indexPath/sigs", "doc_pt"),
    ShardedStore.Table(s"$indexPath/bands", "band_pt"))

  /** Index-level parameters, stamped once at bootstrap ([[write]]
    * overwrite or [[create]]) and validated by every later append,
    * forget, and pruned probe: band keys and shard assignments are
    * deterministic functions of these four values, so an op run with
    * DIFFERENT values computes a wrong band_pt/doc_pt set and silently
    * misses rows — e.g. a forget whose recomputed band keys don't match
    * the stored ones leaves the forgotten doc matchable, defeating the
    * right-to-be-forgotten guarantee with no error. */
  final case class IndexManifest(nPerm: Int, nBands: Int,
                                 rowsPerBand: Int, nParts: Int)

  private def writeManifest(spark: SparkSession, indexPath: String, m: IndexManifest,
                            tombMaxBytes: Long = DefaultTombstoneBroadcastBytes): Unit =
    ShardedStore.writeManifest(spark, indexPath, "nPerm" -> m.nPerm.toLong,
      "nBands" -> m.nBands.toLong, "rowsPerBand" -> m.rowsPerBand.toLong,
      "nParts" -> m.nParts.toLong, "tombMaxBytes" -> tombMaxBytes)

  private def manifest(spark: SparkSession, indexPath: String) =
    ShardedStore.readManifest(spark, indexPath, "signature index")

  /** Reads the parameter manifest; throws if absent (an index without one
    * predates the bootstrap or is not a signature index at all —
    * proceeding would guess parameters). */
  def readManifest(spark: SparkSession, indexPath: String): IndexManifest = {
    val m = manifest(spark, indexPath)
    IndexManifest(m("nPerm").toInt, m("nBands").toInt, m("rowsPerBand").toInt,
      m("nParts").toInt)
  }

  private def validateManifest(spark: SparkSession, indexPath: String,
                               want: IndexManifest): Unit = {
    val got = readManifest(spark, indexPath)
    require(got == want,
      s"signature-index parameter mismatch at $indexPath: written with $got, " +
        s"caller supplied $want — band/shard assignments would silently diverge")
  }

  /** Rolls both tables to one consistent rewrite boundary after a crash
    * mid-[[remove]]/[[compact]] (see [[ShardedStore.recover]]). Run at
    * index open when a prior writer may have died. */
  def recover(spark: SparkSession, indexPath: String): Unit =
    ShardedStore.recover(spark, indexPath, tables(indexPath))

  /** Writes [[DedupOps.signatureIndex]] rows as the two-table layout.
    *
    * `mode = "append"` supports index evolution: signatures are
    * per-document, so ingesting a new batch appends rows into existing
    * shard directories and never rewrites old ones. For appends that must
    * be idempotent under at-least-once replay, use [[appendNew]].
    *
    * The signature parameters are stamped into `_manifest.json` at
    * bootstrap (written LAST, so a readable manifest implies a complete
    * bootstrap) and validated on every append — see [[IndexManifest]].
    *
    * The input is persisted across the two writes (signature computation
    * is the expensive part — shingling + nPerm MinHash over every doc —
    * and must run once, not once per table), and each table is
    * repartitioned BY ITS SHARD KEY first so every shard directory
    * receives one file per write instead of one per upstream task —
    * without it a P-partition input sprays up to P files into each of
    * the nParts directories, and the small-file metadata cost dominates
    * both the write and every later probe. */
  def write(index: DataFrame, path: String,
            nPerm: Int, nBands: Int, rowsPerBand: Int,
            mode: String = "overwrite",
            nParts: Int = IndexParts): Unit = {
    val spark = index.sparkSession
    val m = IndexManifest(nPerm, nBands, rowsPerBand, nParts)
    if (mode == "append") validateManifest(spark, path, m)
    val ix = index.persist()
    try {
      ix.select(col("doc_id"), explode(col("bands")).as("bk"))
        .withColumn("band_pt", shard(xxhash64(col("bk")), nParts))
        .repartition(nParts, col("band_pt"))
        .write.mode(mode).partitionBy("band_pt").parquet(s"$path/bands")
      ix.select(col("doc_id"), col("hs"))
        .withColumn("doc_pt", shard(col("doc_id"), nParts))
        .repartition(nParts, col("doc_pt"))
        .write.mode(mode).partitionBy("doc_pt").parquet(s"$path/sigs")
    } finally ix.unpersist()
    if (mode != "append") writeManifest(spark, path, m)
  }

  /** Creates an EMPTY index: the two table directories, then
    * `_manifest.json` — written LAST, as in the bootstrap write, so a
    * readable manifest still implies a complete index and a crash before
    * it leaves a manifest-less dir that every later op refuses loudly. No
    * Spark job runs. The streaming ingest twin bootstraps through this, so
    * its first micro-batch runs the same pruned probe and [[appendNew]] as
    * every later one (one plan family, compiled once per session). */
  def create(spark: SparkSession, indexPath: String, nPerm: Int, nBands: Int,
             rowsPerBand: Int, nParts: Int = IndexParts): Unit = {
    val fs = ShardedStore.fs(spark, indexPath)
    tables(indexPath).foreach(t => fs.mkdirs(ShardedStore.hp(t.dir)))
    writeManifest(spark, indexPath, IndexManifest(nPerm, nBands, rowsPerBand, nParts))
  }

  /** Appends `sigs` rows ([[DedupOps.signatureIndex]] schema), SKIPPING
    * docs already present — the idempotence guard an at-least-once
    * replayed micro-batch needs: a plain append would add duplicate
    * sig/band rows per retry that nothing downstream dedups (verdicts
    * survive only via min-aggregation; compaction preserves content).
    * Presence is probed on the ids' own doc_pt shards (partition filter +
    * broadcast semi — batch-sized, never corpus-sized), and the surviving
    * rows are settled to disk BEFORE the append, whose target their
    * lineage otherwise reads (settle-before-mutate).
    *
    * KNOWN WINDOW: the underlying append writes bands BEFORE sigs, and
    * this probe keys on sigs — a crash BETWEEN the two table writes makes
    * the retried batch look absent and re-append its band rows, leaving
    * exact-duplicate bands entries. Every verdict survives (candidate
    * generation consumes bands via semi-joins and distinct pairs), and
    * [[compact]] collapses the duplicates at the next maintenance pass, so
    * the "index row counts pinned across a replay" invariant holds for
    * crash-free replays and converges after a crashed one once compaction
    * runs (spec-pinned). Probing sigs is the safe choice of the two:
    * keying on bands would skip the SIGS write on such a retry, leaving
    * band rows with no verification payload — those docs would be
    * silently unmatchable forever, not just wider. */
  def appendNew(newSigs: DataFrame, indexPath: String,
                nPerm: Int, nBands: Int, rowsPerBand: Int,
                nParts: Int = IndexParts): Unit = {
    val spark = newSigs.sparkSession
    validateManifest(spark, indexPath,
      IndexManifest(nPerm, nBands, rowsPerBand, nParts))
    settled(newSigs.select(col("doc_id"))) { ids =>
      val dpts = shardsOf(ids, col("doc_id"), nParts)
      if (dpts.nonEmpty) {
        // RE-INGEST of a logically-forgotten id (tombstoned, purge pending):
        // without this, the tombstone-blind presence probe below would skip
        // the doc's new rows — it would stay unmatchable and the next
        // compaction would purge it entirely (a permanent recall hole). So:
        // purge its stale physical rows (shard-pruned, re-ingest-set-sized),
        // clear its tombstone rows, and let the probe re-admit it fresh —
        // logical forget ≡ physical forget at the id level, including
        // forget → re-ingest → match (parity-pinned). Crash between the two
        // steps leaves the id purged AND tombstoned — the same consistent
        // forgotten state compaction's purge window documents; the batch's
        // replay converges it.
        if (tombVector(indexPath).exists(spark))
          settled(tombVector(indexPath).ids(spark)
              .join(broadcast(ids), Seq("doc_id"), "left_semi").distinct()) { tombed =>
            if (!tombed.isEmpty) {
              remove(tombed, indexPath, nPerm, nBands, rowsPerBand, nParts)
              tombVector(indexPath).remove(tombed,
                tombstoneBroadcastLimit(spark, indexPath))
            }
          }
        val present = sigs(spark, indexPath)
          .where(col("doc_pt").isin(dpts: _*))
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
          .select("doc_id")
        settled(newSigs.join(present, Seq("doc_id"), "left_anti")) { fresh =>
          if (!fresh.isEmpty)
            write(fresh, indexPath, nPerm, nBands, rowsPerBand,
              mode = "append", nParts = nParts)
        }
      }
    }
  }

  /** PHYSICAL forget — the right-to-be-forgotten / retraction path of the
    * incremental-dedup story: after removal, no future batch can match a
    * forgotten doc, so a near-dup of only-forgotten content is admitted
    * again.
    *
    * Only AFFECTED SHARDS are touched, in both tables:
    *  1. the forgotten ids' `doc_pt` shards are known from the ids alone
    *     (pure pmod — no scan); the forgotten payloads are read from those
    *     sigs shards and their band keys RECOMPUTED from the stored `hs`
    *     (the reason the payload table can stay slim);
    *  2. those band keys' `band_pt` shards are the only bands shards
    *     containing forgotten rows.
    * Both shard sets are rewritten in place
    * ([[ShardedStore.stageInPlace]]): each shard is read by one task, its
    * forgotten rows dropped by a broadcast anti join on the ids, and the
    * rest written back as one file — no row changes shard, so nothing is
    * shuffled. The ids are broadcast only below the manifest's
    * [[tombstoneBroadcastLimit]] (at ~24 bytes per hash-table row, the
    * estimate of [[ShardedStore.DeletionVector.remove]]); a larger id set
    * is dropped by shuffle-hash joins and staged through
    * [[ShardedStore.stage]], whose exchange routes the survivors back to
    * their shards. Cost ∝ shards hit by the forget set, never index size,
    * for forget sets small against nParts.
    *
    * Both tables stage first (live dirs untouched), then
    * [[ShardedStore.install]] commits and swaps sigs BEFORE bands: in the
    * cross-table window a forgotten doc has lost its verification payload
    * while its band rows linger, and a band row without a payload can
    * never produce a verdict (the verification join is inner on the
    * payload) — so no intermediate state readmits forgotten content. */
  def remove(removeIds: DataFrame, indexPath: String,
             nPerm: Int, nBands: Int, rowsPerBand: Int,
             nParts: Int = IndexParts): Unit = {
    val ids = removeIds.select(col("doc_id").cast("long").as("doc_id")).distinct()
    val broadcastIds =
      ids.count() * 24L <= tombstoneBroadcastLimit(ids.sparkSession, indexPath)
    remove(ids, shardsOf(ids, col("doc_id"), nParts), indexPath,
      nPerm, nBands, rowsPerBand, nParts, broadcastIds)
  }

  /** [[remove]] of the distinct long `doc_id`s `ids`, whose `doc_pt`
    * shards `dpts` the caller already knows (a forget that also checks
    * [[present]] computes them once for both). `broadcastIds` says whether
    * the ids are small enough to broadcast (see [[remove]]): the caller
    * decides, from what it knows of their size. */
  private[graft] def remove(ids: DataFrame, dpts: Seq[Int], indexPath: String,
                            nPerm: Int, nBands: Int, rowsPerBand: Int,
                            nParts: Int, broadcastIds: Boolean): Unit = {
    val spark = ids.sparkSession
    validateManifest(spark, indexPath,
      IndexManifest(nPerm, nBands, rowsPerBand, nParts))
    if (dpts.isEmpty) return
    // persisted across its three readers (the payload lookup and the two
    // stagings' anti joins) for CPU only — the live dirs stay untouched
    // until both staging writes complete, so crash safety never depends
    // on the cache
    val forgotten = ids.persist()
    try {
      // too large to broadcast: no join on the ids may plan a broadcast
      val build = if (broadcastIds) forgotten else forgotten.hint("shuffle_hash")
      val liveSigs = sigs(spark, indexPath)
      val removedBandPts = shardsOf(
        liveSigs.where(col("doc_pt").isin(dpts: _*))
          .join(build, Seq("doc_id"), "left_semi")
          .select(explode(lshBandKeys(
            minhashSignature(col("hs"), nPerm), nBands, rowsPerBand)).as("bk")),
        xxhash64(col("bk")), nParts)
      def rewrite(live: DataFrame, t: ShardedStore.Table, pts: Seq[Int]) =
        if (broadcastIds) ShardedStore.stageInPlace(live, t, pts, Seq("doc_id" -> forgotten))
        else ShardedStore.stage(live.where(col(t.ptCol).isin(pts: _*))
          .join(build, Seq("doc_id"), "left_anti"), t, pts)
      val Seq(sigsT, bandsT) = tables(indexPath)
      val staged = rewrite(liveSigs, sigsT, dpts) +:
        (if (removedBandPts.isEmpty) Nil
         else Seq(rewrite(bands(spark, indexPath), bandsT, removedBandPts)))
      // both tables staged: a crash anywhere from the commit on rolls BOTH
      // tables forward at the next open
      ShardedStore.install(spark, indexPath, staged)
    } finally forgotten.unpersist(): Unit
  }

  /** Doc ids from `ids` currently MATCHABLE in the index: present in the
    * payload table (probed on their own doc_pt shards only — partition
    * filter + broadcast semi, so the I/O is id-set-shard-sized, never
    * index-sized) and not logically forgotten ([[tombstone]]). */
  def present(ids: DataFrame, indexPath: String,
              nParts: Int = IndexParts): DataFrame = {
    val d = ids.select(col("doc_id").cast("long").as("doc_id")).distinct()
    present(d, shardsOf(d, col("doc_id"), nParts), indexPath)
  }

  /** [[present]] of the distinct long `doc_id`s `ids`, whose `doc_pt`
    * shards are `dpts`. */
  private[graft] def present(ids: DataFrame, dpts: Seq[Int], indexPath: String): DataFrame =
    if (dpts.isEmpty) ids.where(lit(false))
    else antiTombstoned(sigs(ids.sparkSession, indexPath)
      .where(col("doc_pt").isin(dpts: _*))
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select("doc_id"), indexPath)

  // ----- logical forget: tombstones (the deletion-vector idiom) ------------
  //
  // [[remove]] is the PHYSICAL forget: affected shards are rewritten
  // immediately, and its I/O is shards-hit-sized — for a |F|-doc forget
  // that is the collision-expectation fraction of the bands table
  // (~1-(1-1/nParts)^(|F|·nBands)), because band rows hash-scatter. No
  // band-key-derived re-layout can shrink that: the expected number of
  // touched equal-sized shards depends only on (|F|·nBands draws, total
  // shard count), not on WHICH key function assigns rows to shards — the
  // only physical knob is nParts (more, smaller shards). When retraction
  // traffic matters at 100 TB, the industry answer is a DELETION VECTOR:
  // forget appends doc ids to a tiny tombstone table (O(|F|) write I/O,
  // corpus-independent), every probe and presence check anti-joins the
  // broadcast tombstone set (bounded by retraction volume between
  // maintenance passes), and the next [[compact]] settles the debt
  // physically — after it, the files hold no trace of the forgotten docs.
  // Logical-then-purge produces byte-equivalent verdicts to the physical
  // path at every point (spec-pinned); the trade is that forgotten
  // PAYLOADS remain on disk until compaction, which is the documented
  // retention contract of this path (use the physical op when "gone from
  // disk now" is required).

  /** Default for the broadcast-size guard on a tombstone deletion vector
    * (this index's and the IVF index's): tables up to this many on-disk
    * bytes are broadcast into the probes' anti-joins; above it the probe
    * falls back to a shuffle anti-join (identical verdicts, no
    * driver/executor-memory cliff). 64 MB ≈ several million retraction ids
    * — a table that large between maintenance passes means compaction is
    * overdue, and the fallback keeps probes CORRECT rather than fast until
    * it runs. */
  val DefaultTombstoneBroadcastBytes: Long = 64L << 20

  /** Appends below this many tombstone files skip folding; at or above
    * it, [[tombstone]] consolidates the table to one file (every forget
    * call appends one file, and probe-side listing/read cost grows with
    * file count). */
  val TombstoneFoldMinFiles: Int = 4

  /** The index's recorded tombstone broadcast threshold (bytes) — stamped
    * into `_manifest.json` at bootstrap, adjustable via
    * [[setTombstoneBroadcastLimit]]; indexes bootstrapped before the field
    * existed fall back to the default. */
  def tombstoneBroadcastLimit(spark: SparkSession, indexPath: String): Long =
    manifest(spark, indexPath).get("tombMaxBytes").getOrElse(DefaultTombstoneBroadcastBytes)

  /** Rewrites the manifest's tombstone broadcast threshold (layout
    * parameters preserved) — the operator knob the fallback spec drives. */
  def setTombstoneBroadcastLimit(spark: SparkSession, indexPath: String,
                                 maxBytes: Long): Unit =
    writeManifest(spark, indexPath, readManifest(spark, indexPath), maxBytes)

  private def tombVector(indexPath: String) =
    ShardedStore.DeletionVector(s"$indexPath/tombstones", "doc_id")

  /** LOGICAL forget: append `removeIds` to the index's tombstone table —
    * O(|F|) write I/O, corpus-independent. Idempotent under at-least-once
    * replay (duplicate tombstone rows are harmless to the anti-joins and
    * collapsed at purge). Physical purge happens at the next [[compact]].
    * Small files are FOLDED here: once the table reaches
    * [[TombstoneFoldMinFiles]] files, the distinct ids are rewritten as
    * one file and the pre-fold files dropped — append-only crash safety
    * (any crash point leaves a SUPERSET of the final rows, so no
    * forgotten doc ever becomes matchable; the next fold converges the
    * file count). */
  def tombstone(removeIds: DataFrame, indexPath: String): Unit = {
    // manifest presence = this is a signature index; fail loudly
    // otherwise instead of tombstoning a non-index
    readManifest(removeIds.sparkSession, indexPath): Unit
    tombVector(indexPath).append(removeIds.select(col("doc_id")),
      TombstoneFoldMinFiles)
  }

  /** Filters logically-forgotten docs out of `df` — a no-op plan when the
    * index has no tombstone table, so tombstone-free probes keep their
    * exact shape. Broadcast below the manifest's `tombMaxBytes`
    * threshold, forced shuffle-hash past it (pathological retraction
    * volume with compaction overdue — same verdicts, spec-pinned; see
    * [[ShardedStore.DeletionVector.anti]]). */
  private def antiTombstoned(df: DataFrame, indexPath: String): DataFrame = {
    val dv = tombVector(indexPath)
    if (!dv.exists(df.sparkSession)) df
    else dv.anti(df, tombstoneBroadcastLimit(df.sparkSession, indexPath))
  }

  /** Compacts the index: every APPEND ([[write]] evolution, [[remove]]
    * rewrites) adds batch-sized files to shard directories, and probe
    * cost degrades with per-shard file count. Only shards holding at
    * least `minFiles` files are rewritten (read → one file per shard);
    * cost ∝ compacted shards' data, never index size, when appends are
    * localized. Content-preserving by construction — the spec pins row
    * equality and post-state file counts — EXCEPT that exact-duplicate
    * bands rows are collapsed: a crash between the two table writes of an
    * append leaves a retried batch's band rows duplicated (see
    * [[appendNew]]), and compaction is where that debt is settled. Bands
    * rows are (doc_id, bk) facts with no multiplicity meaning, so the
    * collapse is semantics-preserving; sigs rows are never duplicated by
    * that window and are preserved verbatim.
    *
    * Tombstoned docs are purged first (a physical [[remove]]: in place
    * when the tombstone table's on-disk bytes are within
    * [[tombstoneBroadcastLimit]], the probes' broadcast guard, else
    * through shuffle-hash joins), then the tombstone table is dropped. Crowded sigs shards fold in
    * place ([[ShardedStore.stageInPlace]], no shuffle); crowded bands
    * shards go through [[ShardedStore.stage]], whose exchange the
    * `distinct()` needs. Both are the same crash-safe stage-then-install
    * as [[remove]]. */
  def compact(spark: SparkSession, indexPath: String, minFiles: Int = 2): Unit = {
    val fs = ShardedStore.fs(spark, indexPath)
    recover(spark, indexPath)
    // settle the logical-forget debt first: purge tombstoned docs
    // physically (the crash-safe staged rewrite), then drop the tombstone
    // table. A crash between the two leaves the docs both purged AND
    // tombstoned — anti-joins no-op, and the next compaction finishes the
    // drop (idempotent). Single maintenance writer assumed, as for every
    // index-mutating op here (the foreachBatch serial contract).
    val tombs = tombVector(indexPath)
    if (tombs.exists(spark)) {
      // the probes' guard: an overdue compaction's tombstones may be too
      // large to broadcast, and the purge then shuffles them
      val broadcastIds = tombs.bytes(spark) <= tombstoneBroadcastLimit(spark, indexPath)
      // settled: the purge outlives the table
      settled(tombs.ids(spark).distinct()) { ids =>
        if (!ids.isEmpty) {
          val m = readManifest(spark, indexPath)
          remove(ids, shardsOf(ids, col("doc_id"), m.nParts), indexPath,
            m.nPerm, m.nBands, m.rowsPerBand, m.nParts, broadcastIds)
        }
      }
      tombs.drop(spark)
    }
    def crowded(t: ShardedStore.Table): Seq[Int] =
      if (!fs.exists(ShardedStore.hp(t.dir))) Nil
      else fs.listStatus(ShardedStore.hp(t.dir)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"${t.ptCol}="))
        .filter(d => fs.listStatus(d.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")) >= minFiles)
        .map(_.getPath.getName.stripPrefix(s"${t.ptCol}=").toInt)
    // stage every crowded shard of BOTH tables first, then one commit
    // boundary covers all the swaps
    val Seq(sigsT, bandsT) = tables(indexPath)
    val (bandPts, sigPts) = (crowded(bandsT), crowded(sigsT))
    val staged =
      (if (bandPts.isEmpty) Nil
       // bands: collapse the exact duplicates a mid-append crash can leave
       // behind (see the doc comment above)
       else Seq(ShardedStore.stage(bands(spark, indexPath)
         .where(col("band_pt").isin(bandPts: _*)).distinct(), bandsT, bandPts))) ++
      (if (sigPts.isEmpty) Nil
       else Seq(ShardedStore.stageInPlace(sigs(spark, indexPath), sigsT, sigPts)))
    ShardedStore.install(spark, indexPath, staged)
  }

  /** [[DedupOps.dedupDeltaBatch]] against this index with the index scan
    * PRUNED to what the batch can possibly collide with — the piece that
    * makes the per-batch cost stop being corpus-sized I/O:
    *
    *  1. the batch's distinct band keys (a bounded, batch-sized set) are
    *     hashed to their shard ids; the `bands/` scan carries a
    *     `band_pt IN (...)` partition filter (≤ nParts values, collected
    *     driver-side — never data-sized), so only collided shards' FILES
    *     are opened;
    *  2. within those shards, a BROADCAST left-semi join on the batch's
    *     band keys keeps only genuinely collided index rows — no shuffle
    *     of the index, ever; those surviving (doc_id, bk) rows ARE the
    *     corpus-side candidate bands (an index band absent from the batch
    *     can never pair), so the candidate join reuses them directly
    *     instead of re-deriving bands from the payload table;
    *  3. the `sigs/` verification fetch is restricted the same way:
    *     `doc_pt IN (...)` partition filter from the collided ids' shards
    *     plus a left-semi on the collided ids themselves.
    *
    * Verdicts are exactly [[DedupOps.dedupDeltaBatch]]'s: docs whose bands
    * miss every batch band key can never form a candidate pair, so
    * dropping them from the probe is lossless (equality vs the flat-index
    * pass is pinned by IncrementalDedupSpec).
    *
    * The returned frame is SETTLED (eager `cutLineage`) and the
    * intermediates this function persists are released before it returns
    * — per-micro-batch callers accumulate no CacheManager entries.
    * `batchSigs` feeds two candidate arms and a verification join; the
    * CALLER should persist it (and owns its release) if it also uses the
    * signatures afterwards, as the index-append path does. */
  def probe(batchIds: DataFrame, batchSigs: DataFrame,
            indexPath: String, minJac: Double,
            nParts: Int = IndexParts,
            excludeOwnIds: Boolean = false): DataFrame = {
    val (verdicts, cached) = probePlan(
      batchIds, batchSigs, indexPath, minJac, nParts, excludeOwnIds)
    val out = verdicts.cutLineage()
    cached.foreach(_.unpersist(): Unit)
    out
  }

  /** The LAZY probe plan behind [[probe]], plus the intermediates it
    * persisted (released by the settled wrapper; a direct caller owns
    * them). Exists so the plan pins (PlanSpec, IncrementalDedupSpec) can
    * inspect the exact frame the settled path materializes — after the
    * checkpoint, the executed plan is just an RDD scan and the
    * partition-filter/broadcast-semi shape is invisible. */
  private[graft] def probePlan(
      batchIds: DataFrame, batchSigs: DataFrame,
      indexPath: String, minJac: Double,
      nParts: Int = IndexParts,
      excludeOwnIds: Boolean = false): (DataFrame, Seq[DataFrame]) = {
    val spark = batchIds.sparkSession
    val mParts = readManifest(spark, indexPath).nParts
    require(mParts == nParts,
      s"signature index at $indexPath has nParts=$mParts, probe supplied " +
        s"$nParts — the band_pt/doc_pt partition filters would miss shards")
    val bs = batchSigs
    val batchBands = bs.select(explode(col("bands")).as("bk")).distinct().persist()
    val pts = shardsOf(batchBands, xxhash64(col("bk")), nParts)
    // persisted: feeds both the doc_pt prune below and the candidate
    // join; collided-rows-sized — batch-proportional, never corpus-
    // proportional
    // logically-forgotten docs must not act as corpus partners: anti-join
    // the broadcast tombstone set (plan-neutral when no tombstones exist)
    val bandsMatchedRaw = antiTombstoned(
      bands(spark, indexPath)
        .where(col("band_pt").isin(pts: _*))
        .join(broadcast(batchBands), Seq("bk"), "left_semi")
        .select("doc_id", "bk"), indexPath)
    // excludeOwnIds: a RETRIED batch whose kept signatures were already
    // appended must not see its own attempt's index rows — beyond the
    // self-pair guard, a larger-id batch doc indexed by the failed
    // attempt would qualify as an unordered "corpus" partner and flip a
    // keep to a drop on replay (streaming twin contract). Broadcast
    // anti on the batch's own ids — batch-sized, never corpus-sized.
    val bandsMatched = (if (excludeOwnIds)
      bandsMatchedRaw.join(broadcast(batchIds
          .select(col("doc_id").cast("long").as("doc_id"))),
        Seq("doc_id"), "left_anti")
    else bandsMatchedRaw).persist()
    val collided = bandsMatched.select("doc_id").distinct()
    val dpts = shardsOf(collided, col("doc_id"), nParts)
    val prunedHs = sigs(spark, indexPath)
      .where(col("doc_pt").isin(dpts: _*))
      .join(collided, Seq("doc_id"), "left_semi")
      .select("doc_id", "hs")
    (DedupOps.dedupDeltaCore(batchIds, bs, bandsMatched, prunedHs, minJac),
      Seq(batchBands, bandsMatched))
  }
}
