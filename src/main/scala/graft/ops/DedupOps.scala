package graft.ops

import graft.ops.Checkpoints._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard near-dup detection. Extension surface beyond
  * the reference (which has none); designed so the pair-generation step is
  * always an equi-join on a bucket key — never an O(n²) cross join — which
  * is what survives 100 TB.
  */
object DedupOps {
  import HashOps.P

  /** Exact dedup: rank duplicates within identical `keyCol` content, keeping
    * the lowest `idCol` as canonical. Adds `dup_rank` (1 = canonical) and
    * `canonical_id`. One shuffle on the content hash. */
  def exactDupRank(df: DataFrame, keyCol: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(idCol.asc)
    df.withColumn("dup_rank", row_number().over(w))
      .withColumn("canonical_id", first(idCol).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** MinHash signature: for each of `nPerm` universal-hash permutations,
    * the minimum permuted shingle hash — computed IN-ROW by a codegen'd
    * expression over the shingle-hash array (no explode, no shuffle; the
    * classic explode→groupBy formulation shuffles |docs|·|shingles|·|perms|
    * rows, which is exactly what dies at scale, and the higher-order-
    * function formulation is interpreted).
    * Returns array<bigint> of length nPerm (null for an empty set).
    * DuckDB mirror: min((a_i*h + b_i) % P) grouped by (doc, i). */
  def minhashSignature(shingleHashes: Column, nPerm: Int): Column =
    graft.expressions.F.minhash(shingleHashes, nPerm)

  /** LSH band keys from a MinHash signature: `nBands` bands of
    * `rowsPerBand` signature positions, each rendered as a string key
    * "band:v1,v2,...". Docs sharing ANY band key are candidate pairs.
    * DuckDB: list_transform(range(0, bands), b ->
    *   b || ':' || array_to_string(list_slice(sig, b*r+1, b*r+r), ',')) */
  def lshBandKeys(sig: Column, nBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(nBands - 1)),
      b => concat_ws(":", b.cast("string"),
        concat_ws(",", transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
          v => v.cast("string")))))

  /** SimHash fingerprint: see graft.expressions.SimHash (codegen kernel)
    * via graft.expressions.F.simhash. */

  /** Hamming distance between two ≤63-bit fingerprints via arithmetic bit
    * extraction (portable; Spark also has bit_count but DuckDB's operates on
    * BIT — keep one portable formulation). Bits come from integer
    * `shiftright`, never `/` (double division truncates the 53-bit mantissa
    * for fingerprints ≥ 2^53, corrupting low-order bits). */
  def hamming(a: Column, b: Column, nBits: Int): Column =
    (0 until nBits).map { j =>
      val bitA = shiftright(a.cast("long"), j) % 2L
      val bitB = shiftright(b.cast("long"), j) % 2L
      (bitA - bitB) * (bitA - bitB)
    }.reduce(_ + _)

  /** Candidate pairs from exploded bucket keys: equi-join on the key with
    * `idL < idR` canonical ordering, deduplicated across buckets. The scale
    * workhorse: shuffle is bounded by bucket membership, never |n|². */
  def bucketPairs(df: DataFrame, idCol: String, bucketCol: String): DataFrame = {
    val l = df.select(col(idCol).as("id_l"), col(bucketCol).as("__b"))
    val r = df.select(col(idCol).as("id_r"), col(bucketCol).as("__b"))
    l.join(r, "__b").where(col("id_l") < col("id_r"))
      .select("id_l", "id_r").distinct()
  }

  /** Intersection cardinality of two SORTED distinct long-array columns
    * (as produced by ShingleHashSet) — codegen'd two-pointer merge. */
  def intersectSizeSorted(a: Column, b: Column): Column =
    graft.expressions.F.intersectSizeSorted(a, b)

  /** Exact Jaccard similarity between two shingle-hash SET columns (arrays
    * already distinct), as e4-scaled bigint for oracle-stable comparison. */
  def jaccardE4(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - size(array_intersect(a, b))
    round(inter / union * 10000).cast("long")
  }

  /** Connected components over undirected pair edges: every node's label
    * converges to the minimum node id reachable from it (= deterministic
    * cluster id) — the dedup-pipeline step that turns near-dup PAIRS into
    * keep-one CLUSTERS. `nodes` must have column `id`; `pairs` columns
    * `id_l`,`id_r`.
    *
    * Scale shape: only nodes that appear in an edge are iterated —
    * singletons (the overwhelming majority of a near-dup graph at corpus
    * scale) short-circuit to their own id with zero rounds. Each round
    * combines one-hop min-label propagation with pointer doubling
    * (label := min(label, label(label), min neighbor label)), so
    * convergence is O(log diameter) rounds rather than O(diameter); change
    * detection reads the already-materialized round output (old label kept
    * alongside new — no extra join). Labels only ever move within a
    * component and never below its min id, so the fixpoint is exactly the
    * min-reachable-id labeling the recursive-CTE oracle computes.
    *
    * Throws if the loop exits before fixpoint — silently returning
    * unconverged labels would corrupt downstream keep/drop decisions.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIter: Int = 20,
                          driverEdgeLimit: Long = 1000000L): DataFrame =
    // neither path's result reads the settled pairs: the driver path
    // collects them, the doubling loop settles its own edge copy
    settled(pairs.select(col("id_l").cast("long").as("src"),
        col("id_r").cast("long").as("dst"))) { p =>
      // Adaptive plan choice, AQE-style: the near-dup pair graph is usually
      // orders of magnitude smaller than the corpus (it exists only where
      // near-dups exist), so below `driverEdgeLimit` pairs the component
      // labeling runs as driver-side union-find (exact min-root invariant)
      // in one pass, and only the label map — ≤ 2·pairs entries — is
      // broadcast back. Above the limit, the distributed pointer-doubling
      // loop takes over; both paths produce identical min-reachable-id
      // labels (equality is pinned by a spec).
      if (p.count() <= driverEdgeLimit) ccViaDriver(nodes, p)
      else ccByDoubling(nodes, p, maxIter)
    }

  /** [[connectedComponents]]' distributed path over settled `p` (src, dst). */
  private def ccByDoubling(nodes: DataFrame, p: DataFrame, maxIter: Int): DataFrame = {
    val edges = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
      .cutLineage()
    // cut (not persist): the doubling self-join would otherwise
    // triple the logical plan every round — lineage must be cut, not cached.
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")).cutLineage()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      // pointer doubling: every label is itself a node id in `labels`.
      // Round 1 skips it — labels are still the identity map, so
      // label(label) = label and the self-join would be a pure-overhead
      // shuffle.
      val doubled =
        if (i == 0) labels.select(col("node").as("dnode"), col("label").as("dlabel"))
        else labels.alias("x")
          .join(labels.alias("y"), col("x.label") === col("y.node"))
          .select(col("x.node").as("dnode"), col("y.label").as("dlabel"))
      val stepped = labels.alias("l")
        .join(doubled.alias("d"), col("l.node") === col("d.dnode"))
        .join(nbrMin.alias("n"), col("l.node") === col("n.src"), "left")
        .select(col("l.node").as("node"), col("l.label").as("old_label"),
          least(col("l.label"), col("d.dlabel"),
            coalesce(col("n.nbr_label"), col("l.label"))).as("label"))
        .cutLineage()
      changed = stepped.where(col("label") =!= col("old_label")).count()
      labels = stepped.select("node", "label")
      i += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds ($changed labels still moving)")
    val singletons = nodes.select(col("id").as("node"))
      .join(labels.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("cluster_id"))
    labels.select(col("node"), col("label").as("cluster_id")).union(singletons)
  }

  /** One row of the persisted dedup SIGNATURE INDEX per document with a
    * non-empty shingle set: (doc_id, hs sorted-distinct shingle hashes,
    * sig MinHash signature, bands LSH band keys). This is the structure
    * "dedup a new batch against 100 TB already ingested" persists once and
    * probes per batch: signatures and band keys are per-document (corpus-
    * independent), so index rows never need recomputation when new data
    * arrives, and the stored `hs` lets exact-Jaccard verification run
    * WITHOUT rescanning the ingested corpus's text. */
  def signatureIndex(docs: DataFrame, shingleK: Int, nPerm: Int,
                     nBands: Int, rowsPerBand: Int): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
        TextOps.shingleHashes(col("text"), shingleK).as("hs"))
      .where(size(col("hs")) > 0)
      .withColumn("sig", minhashSignature(col("hs"), nPerm))
      .withColumn("bands", lshBandKeys(col("sig"), nBands, rowsPerBand))

  /** Partition count for the persisted signature index's shard
    * directories ([[writeSignatureIndex]] / [[dedupDeltaBatchPruned]]). */
  val IndexParts = 32

  private val bandsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, bk STRING, band_pt INT")
  private val sigsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, hs ARRAY<BIGINT>, doc_pt INT")

  /** Index-level parameters, stamped once at bootstrap
    * ([[writeSignatureIndex]] overwrite or [[createSignatureIndex]]) and
    * validated by every later append, forget, and pruned probe: band keys
    * and shard assignments are deterministic functions of these four
    * values, so an op run with DIFFERENT values computes a wrong
    * band_pt/doc_pt set and silently misses rows — e.g. a forget whose recomputed band keys don't match
    * the stored ones leaves the forgotten doc matchable, defeating the
    * right-to-be-forgotten guarantee with no error. */
  final case class IndexManifest(nPerm: Int, nBands: Int,
                                 rowsPerBand: Int, nParts: Int)

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession, path: String) =
    ShardedStore.fs(spark, path)

  private def manifestFile(indexPath: String) = s"$indexPath/_manifest.json"

  private def writeManifest(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, m: IndexManifest,
                            tombMaxBytes: Long = DefaultTombstoneBroadcastBytes): Unit =
    ShardedStore.writeTextFile(spark, manifestFile(indexPath),
      s"""{"nPerm":${m.nPerm},"nBands":${m.nBands},""" +
        s""""rowsPerBand":${m.rowsPerBand},"nParts":${m.nParts},""" +
        s""""tombMaxBytes":$tombMaxBytes}""")

  /** Reads the parameter manifest of a [[writeSignatureIndex]] layout;
    * throws if absent (an index without one predates the bootstrap or is
    * not a signature index at all — proceeding would guess parameters). */
  def readManifest(spark: org.apache.spark.sql.SparkSession,
                   indexPath: String): IndexManifest = {
    val fs = hadoopFs(spark, indexPath)
    require(fs.exists(ShardedStore.hp(manifestFile(indexPath))),
      s"signature index at $indexPath has no parameter manifest — " +
        "not a writeSignatureIndex layout (or an incomplete bootstrap)")
    val s = ShardedStore.readTextFile(spark, manifestFile(indexPath))
    def f(k: String): Int = ShardedStore.jsonField(s, k).map(_.toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"manifest at $indexPath missing '$k': $s"))
    IndexManifest(f("nPerm"), f("nBands"), f("rowsPerBand"), f("nParts"))
  }

  private def validateManifest(spark: org.apache.spark.sql.SparkSession,
                               indexPath: String, want: IndexManifest): Unit = {
    val got = readManifest(spark, indexPath)
    require(got == want,
      s"signature-index parameter mismatch at $indexPath: written with $got, " +
        s"caller supplied $want — band/shard assignments would silently diverge")
  }

  // ----- crash-safe shard rewrite -------------------------------------------
  //
  // Forget and compaction replace whole shard directories, possibly across
  // BOTH index tables. The protocol is [[ShardedStore]]'s staged-shard-swap
  // with a store-level `_commit` marker: every affected table stages its
  // complete replacement first (live dirs untouched, emptied shards get
  // explicit marker dirs), the marker is written, every table swaps, the
  // marker clears. [[recoverSignatureIndex]] at open rolls ALL tables to
  // the same side of the boundary — marker present → forward, absent →
  // back — so sigs and bands can never disagree about whether a forget
  // happened (the round-16 cross-table fix; previously a crash between the
  // two stagings recovered each table in a different direction, leaving
  // forgotten docs' band rows permanently unpurgeable).

  private def sigTables(indexPath: String) = Seq(
    ShardedStore.Table(s"$indexPath/sigs", "doc_pt"),
    ShardedStore.Table(s"$indexPath/bands", "band_pt"))

  /** [[ShardedStore.stage]] on one index/store table (spec hook). */
  private[graft] def stageShards(kept: DataFrame, tableDir: String,
                                 ptCol: String, maxParts: Int,
                                 pts: Seq[Int]): Unit =
    ShardedStore.stage(kept, ShardedStore.Table(tableDir, ptCol), maxParts, pts)

  /** Rolls both index tables to one consistent rewrite boundary after a
    * crash mid-[[removeFromSignatureIndex]]/[[compactSignatureIndex]]
    * (see [[ShardedStore.recover]]). Run at index open when a prior
    * writer may have died. */
  def recoverSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String): Unit =
    ShardedStore.recover(spark, indexPath, sigTables(indexPath))

  /** Writes [[signatureIndex]] rows as the PARTITIONED two-table layout
    * [[dedupDeltaBatchPruned]] probes:
    *
    *  - `bands/band_pt=K/` — one (doc_id, bk) row per (doc, band key),
    *    hash-partitioned by band key: the PROBE side. A batch touches only
    *    the shards its own band keys hash into, so partition pruning skips
    *    every other shard's files before any I/O happens.
    *  - `sigs/doc_pt=K/` — one (doc_id, hs) row per doc, hash-partitioned
    *    by doc id: the VERIFICATION payload, fetched only for
    *    band-collided docs (and pruned to their doc_pt shards). `hs` is
    *    the complete per-doc state — signature and band keys are
    *    deterministic functions of it ([[minhashSignature]] /
    *    [[lshBandKeys]]), so storing them again here would only widen
    *    every write and every verification fetch.
    *
    * `mode = "append"` supports index evolution: signatures are
    * per-document, so ingesting a new batch appends rows into existing
    * shard directories and never rewrites old ones. For appends that must
    * be idempotent under at-least-once replay, use
    * [[appendNewToSignatureIndex]].
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
  def writeSignatureIndex(index: DataFrame, path: String,
                          nPerm: Int, nBands: Int, rowsPerBand: Int,
                          mode: String = "overwrite",
                          nParts: Int = IndexParts): Unit = {
    val spark = index.sparkSession
    val m = IndexManifest(nPerm, nBands, rowsPerBand, nParts)
    if (mode == "append") validateManifest(spark, path, m)
    val ix = index.persist()
    try {
      ix.select(col("doc_id"), explode(col("bands")).as("bk"))
        .withColumn("band_pt", pmod(xxhash64(col("bk")), lit(nParts.toLong)).cast("int"))
        .repartition(nParts, col("band_pt"))
        .write.mode(mode).partitionBy("band_pt").parquet(s"$path/bands")
      ix.select(col("doc_id"), col("hs"))
        .withColumn("doc_pt", pmod(col("doc_id"), lit(nParts.toLong)).cast("int"))
        .repartition(nParts, col("doc_pt"))
        .write.mode(mode).partitionBy("doc_pt").parquet(s"$path/sigs")
    } finally ix.unpersist()
    if (mode != "append") writeManifest(spark, path, m)
  }

  /** Creates an EMPTY [[writeSignatureIndex]] layout: the two table
    * directories, then `_manifest.json` — written LAST, as in the
    * bootstrap write, so a readable manifest still implies a complete
    * index and a crash before it leaves a manifest-less dir that every
    * later op refuses loudly. No Spark job runs. The streaming ingest
    * twin bootstraps through this, so its first micro-batch runs the
    * same pruned probe and [[appendNewToSignatureIndex]] as every later
    * one (one plan family, compiled once per session). */
  def createSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, nPerm: Int, nBands: Int,
                           rowsPerBand: Int, nParts: Int = IndexParts): Unit = {
    val fs = hadoopFs(spark, indexPath)
    sigTables(indexPath).foreach(t => fs.mkdirs(ShardedStore.hp(t.dir)))
    writeManifest(spark, indexPath, IndexManifest(nPerm, nBands, rowsPerBand, nParts))
  }

  /** Appends `sigs` rows ([[signatureIndex]] schema) to a persisted index,
    * SKIPPING docs already present — the idempotence guard an
    * at-least-once replayed micro-batch needs: a plain append would add
    * duplicate sig/band rows per retry that nothing downstream dedups
    * (verdicts survive only via min-aggregation; compaction preserves
    * content). Presence is probed on the ids' own doc_pt shards (partition
    * filter + broadcast semi — batch-sized, never corpus-sized), and the
    * surviving rows are settled to disk BEFORE the append, whose target
    * their lineage otherwise reads (settle-before-mutate).
    *
    * KNOWN WINDOW: the underlying append writes bands BEFORE sigs, and
    * this probe keys on sigs — a crash BETWEEN the two table writes makes
    * the retried batch look absent and re-append its band rows, leaving
    * exact-duplicate bands entries. Every verdict survives (candidate
    * generation consumes bands via semi-joins and distinct pairs), and
    * [[compactSignatureIndex]] collapses the duplicates at the next
    * maintenance pass, so the "index row counts pinned across a replay"
    * invariant holds for crash-free replays and converges after a
    * crashed one once compaction runs (spec-pinned). Probing sigs is the
    * safe choice of the two: keying on bands would skip the SIGS write
    * on such a retry, leaving band rows with no verification payload —
    * those docs would be silently unmatchable forever, not just wider. */
  def appendNewToSignatureIndex(sigs: DataFrame, indexPath: String,
                                nPerm: Int, nBands: Int, rowsPerBand: Int,
                                nParts: Int = IndexParts): Unit = {
    val spark = sigs.sparkSession
    validateManifest(spark, indexPath,
      IndexManifest(nPerm, nBands, rowsPerBand, nParts))
    settled(sigs.select(col("doc_id"))) { ids =>
      val dpts = ids.select(pmod(col("doc_id"), lit(nParts.toLong)).cast("int").as("pt"))
        .distinct().collect().map(_.getInt(0)).toSeq
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
              removeFromSignatureIndex(tombed, indexPath,
                nPerm, nBands, rowsPerBand, nParts)
              tombVector(indexPath).remove(tombed,
                tombstoneBroadcastLimit(spark, indexPath))
            }
          }
        val present = spark.read.schema(sigsSchema).parquet(s"$indexPath/sigs")
          .where(col("doc_pt").isin(dpts: _*))
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
          .select("doc_id")
        settled(sigs.join(present, Seq("doc_id"), "left_anti")) { fresh =>
          if (!fresh.isEmpty)
            writeSignatureIndex(fresh, indexPath, nPerm, nBands, rowsPerBand,
              mode = "append", nParts = nParts)
        }
      }
    }
  }

  /** Removes documents from a persisted [[writeSignatureIndex]] layout —
    * the right-to-be-forgotten / retraction path of the incremental-dedup
    * story: after removal, no future batch can match a forgotten doc, so
    * a near-dup of only-forgotten content is admitted again.
    *
    * Only AFFECTED SHARDS are touched, in both tables:
    *  1. the forgotten ids' `doc_pt` shards are known from the ids alone
    *     (pure pmod — no scan); those sigs shards are read, the forgotten
    *     payloads are captured, and their band keys are RECOMPUTED from
    *     the stored `hs` (signature/bands are deterministic functions of
    *     it — the reason the payload table can stay slim);
    *  2. those band keys' `band_pt` shards are the only bands shards
    *     containing forgotten rows; both shard sets are rewritten as
    *     filtered anti-joins.
    * Cost ∝ shards hit by the forget set, never index size, for forget
    * sets small against nParts.
    *
    * Shard rewrite is the CRASH-SAFE two-phase stage-then-swap (see the
    * block comment above [[stageShards]]): surviving rows are fully on
    * disk under a reader-invisible staging dir before any live dir is
    * touched, and [[recoverSignatureIndex]] rolls a mid-swap crash to a
    * rewrite boundary. Both tables stage first, then sigs swaps BEFORE
    * bands: in the cross-table window a forgotten doc has lost its
    * verification payload while its band rows linger, and a band row
    * without a payload can never produce a verdict (the verification
    * join is inner on the payload) — so no intermediate state readmits
    * forgotten content. */
  def removeFromSignatureIndex(removeIds: DataFrame, indexPath: String,
                               nPerm: Int, nBands: Int, rowsPerBand: Int,
                               nParts: Int = IndexParts): Unit = {
    val spark = removeIds.sparkSession
    validateManifest(spark, indexPath,
      IndexManifest(nPerm, nBands, rowsPerBand, nParts))
    val ids = removeIds.select(col("doc_id").cast("long").as("doc_id"))
      .distinct().persist()
    val dpts = ids.select(pmod(col("doc_id"), lit(nParts.toLong)).cast("int").as("pt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (dpts.isEmpty) { ids.unpersist(); return }
    // persisted across its two consumers (band-key recompute + staged
    // write) for CPU only — the live dirs stay untouched until both
    // staging writes complete, so crash safety never depends on the cache
    val sigShards = spark.read.schema(sigsSchema).parquet(s"$indexPath/sigs")
      .where(col("doc_pt").isin(dpts: _*)).persist()
    val removedBandPts = sigShards
      .join(ids, Seq("doc_id"), "left_semi")
      .select(explode(lshBandKeys(
        minhashSignature(col("hs"), nPerm), nBands, rowsPerBand)).as("bk"))
      .select(pmod(xxhash64(col("bk")), lit(nParts.toLong)).cast("int").as("pt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val bandShards = spark.read.schema(bandsSchema).parquet(s"$indexPath/bands")
      .where(col("band_pt").isin(removedBandPts: _*))
    val Seq(sigsT, bandsT) = sigTables(indexPath)
    ShardedStore.stage(sigShards.join(ids, Seq("doc_id"), "left_anti"),
      sigsT, math.min(nParts, dpts.size), dpts)
    if (removedBandPts.nonEmpty)
      ShardedStore.stage(bandShards.join(ids, Seq("doc_id"), "left_anti"),
        bandsT, math.min(nParts, removedBandPts.size), removedBandPts)
    sigShards.unpersist(); ids.unpersist(): Unit
    // both tables staged: commit, then swap — a crash anywhere from here
    // rolls BOTH tables forward at the next open
    ShardedStore.commit(spark, indexPath)
    ShardedStore.swap(spark, sigsT, dpts)
    if (removedBandPts.nonEmpty) ShardedStore.swap(spark, bandsT, removedBandPts)
    ShardedStore.clearCommit(spark, indexPath)
  }

  /** Doc ids from `ids` currently MATCHABLE in the index: present in the
    * payload table (probed on their own doc_pt shards only — partition
    * filter + broadcast semi, so the I/O is id-set-shard-sized, never
    * index-sized) and not logically forgotten
    * ([[tombstoneInSignatureIndex]]). */
  def presentInSignatureIndex(ids: DataFrame, indexPath: String,
                              nParts: Int = IndexParts): DataFrame = {
    val spark = ids.sparkSession
    val d = ids.select(col("doc_id").cast("long").as("doc_id")).distinct()
    val dpts = d.select(pmod(col("doc_id"), lit(nParts.toLong)).cast("int").as("pt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (dpts.isEmpty) d.where(lit(false))
    else antiTombstoned(spark.read.schema(sigsSchema).parquet(s"$indexPath/sigs")
      .where(col("doc_pt").isin(dpts: _*))
      .join(broadcast(d), Seq("doc_id"), "left_semi")
      .select("doc_id"), indexPath)
  }

  // ----- logical forget: tombstones (the deletion-vector idiom) ------------
  //
  // [[removeFromSignatureIndex]] is the PHYSICAL forget: affected shards
  // are rewritten immediately, and its I/O is shards-hit-sized — for a
  // |F|-doc forget that is the collision-expectation fraction of the bands
  // table (~1-(1-1/nParts)^(|F|·nBands)), because band rows hash-scatter.
  // No band-key-derived re-layout can shrink that: the expected number of
  // touched equal-sized shards depends only on (|F|·nBands draws, total
  // shard count), not on WHICH key function assigns rows to shards — the
  // only physical knob is nParts (more, smaller shards). When retraction
  // traffic matters at 100 TB, the industry answer is a DELETION VECTOR:
  // forget appends doc ids to a tiny tombstone table (O(|F|) write I/O,
  // corpus-independent), every probe and presence check anti-joins the
  // broadcast tombstone set (bounded by retraction volume between
  // maintenance passes), and the next [[compactSignatureIndex]] settles
  // the debt physically — after it, the files hold no trace of the
  // forgotten docs. Logical-then-purge produces byte-equivalent verdicts
  // to the physical path at every point (spec-pinned); the trade is that
  // forgotten PAYLOADS remain on disk until compaction, which is the
  // documented retention contract of this path (use the physical op when
  // "gone from disk now" is required).

  /** Default for the broadcast-size guard on the tombstone deletion
    * vector: tombstone tables up to this many on-disk bytes are broadcast
    * into the probes' anti-joins; above it the probe falls back to a
    * shuffle anti-join (identical verdicts, no driver/executor-memory
    * cliff). 64 MB ≈ several million retraction ids — a table that large
    * between maintenance passes means compaction is overdue, and the
    * fallback keeps probes CORRECT rather than fast until it runs. */
  val DefaultTombstoneBroadcastBytes: Long = 64L << 20

  /** Appends below this many tombstone files skip folding; at or above
    * it, [[tombstoneInSignatureIndex]] consolidates the table to one file
    * (every forget call appends one file, and probe-side listing/read
    * cost grows with file count). */
  val TombstoneFoldMinFiles: Int = 4

  /** The index's recorded tombstone broadcast threshold (bytes) — stamped
    * into `_manifest.json` at bootstrap, adjustable via
    * [[setTombstoneBroadcastLimit]]; indexes bootstrapped before the field
    * existed fall back to the default. */
  def tombstoneBroadcastLimit(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String): Long =
    ShardedStore.jsonField(
      ShardedStore.readTextFile(spark, manifestFile(indexPath)), "tombMaxBytes")
      .getOrElse(DefaultTombstoneBroadcastBytes)

  /** Rewrites the manifest's tombstone broadcast threshold (layout
    * parameters preserved) — the operator knob the fallback spec drives. */
  def setTombstoneBroadcastLimit(spark: org.apache.spark.sql.SparkSession,
                                 indexPath: String, maxBytes: Long): Unit =
    writeManifest(spark, indexPath, readManifest(spark, indexPath), maxBytes)

  /** LOGICAL forget: append `removeIds` to the index's tombstone table —
    * O(|F|) write I/O, corpus-independent. Idempotent under at-least-once
    * replay (duplicate tombstone rows are harmless to the anti-joins and
    * collapsed at purge). Physical purge happens at the next
    * [[compactSignatureIndex]]. Small files are FOLDED here: once the
    * table reaches [[TombstoneFoldMinFiles]] files, the distinct ids are
    * rewritten as one file and the pre-fold files dropped — append-only
    * crash safety (any crash point leaves a SUPERSET of the final rows,
    * so no forgotten doc ever becomes matchable; the next fold converges
    * the file count). */
  private def tombVector(indexPath: String) =
    ShardedStore.DeletionVector(s"$indexPath/tombstones", "doc_id")

  def tombstoneInSignatureIndex(removeIds: DataFrame, indexPath: String): Unit = {
    // manifest presence = this is a writeSignatureIndex layout; fail
    // loudly otherwise instead of tombstoning a non-index
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

  /** Compacts a persisted [[writeSignatureIndex]] layout: every APPEND
    * ([[dedupDeltaBatch]] evolution, [[removeFromSignatureIndex]]
    * rewrites) adds batch-sized files to shard directories, and probe
    * cost degrades with per-shard file count. Only shards holding at
    * least `minFiles` files are rewritten (read → one file per shard);
    * cost ∝ compacted shards' data, never index size, when appends are
    * localized. Content-preserving by construction — the spec pins row
    * equality and post-state file counts — EXCEPT that exact-duplicate
    * bands rows are collapsed: a crash between the two table writes of an
    * append leaves a retried batch's band rows duplicated (see
    * [[appendNewToSignatureIndex]]), and compaction is where that debt is
    * settled. Bands rows are (doc_id, bk) facts with no multiplicity
    * meaning, so the collapse is semantics-preserving; sigs rows are
    * never duplicated by that window and are preserved verbatim.
    *
    * Shard rewrite is the same crash-safe stage-then-swap as
    * [[removeFromSignatureIndex]] — the staged single-file-per-shard
    * content is fully on disk before any live dir is touched, and
    * [[recoverSignatureIndex]] covers a mid-swap crash. */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, minFiles: Int = 2): Unit = {
    val fs = hadoopFs(spark, indexPath)
    recoverSignatureIndex(spark, indexPath)
    // settle the logical-forget debt first: purge tombstoned docs
    // physically (the crash-safe staged rewrite), then drop the tombstone
    // table. A crash between the two leaves the docs both purged AND
    // tombstoned — anti-joins no-op, and the next compaction finishes the
    // drop (idempotent). Single maintenance writer assumed, as for every
    // index-mutating op here (the foreachBatch serial contract).
    if (tombVector(indexPath).exists(spark)) {
      // settled: the purge outlives the table
      settled(tombVector(indexPath).ids(spark).distinct()) { ids =>
        if (!ids.isEmpty) {
          val m = readManifest(spark, indexPath)
          removeFromSignatureIndex(ids, indexPath,
            m.nPerm, m.nBands, m.rowsPerBand, m.nParts)
        }
      }
      tombVector(indexPath).drop(spark)
    }
    // stage every crowded shard of BOTH tables first, then one commit
    // boundary covers all the swaps (ShardedStore protocol)
    val staged = for {
      (table, schema, ptCol) <- Seq(
        ("bands", bandsSchema, "band_pt"), ("sigs", sigsSchema, "doc_pt"))
      tablePath = new org.apache.hadoop.fs.Path(s"$indexPath/$table")
      if fs.exists(tablePath)
      crowded = fs.listStatus(tablePath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$ptCol="))
        .filter(d => fs.listStatus(d.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")) >= minFiles)
        .map(_.getPath.getName.stripPrefix(s"$ptCol=").toInt)
      if crowded.nonEmpty
    } yield {
      val raw = spark.read.schema(schema).parquet(s"$indexPath/$table")
        .where(col(ptCol).isin(crowded: _*))
      // bands: collapse the exact duplicates a mid-append crash can
      // leave behind (see the doc comment above)
      val rows = if (table == "bands") raw.distinct() else raw
      val t = ShardedStore.Table(s"$indexPath/$table", ptCol)
      ShardedStore.stage(rows, t, crowded.size, crowded)
      (t, crowded)
    }
    if (staged.nonEmpty) {
      ShardedStore.commit(spark, indexPath)
      staged.foreach { case (t, pts) => ShardedStore.swap(spark, t, pts) }
      ShardedStore.clearCommit(spark, indexPath)
    }
  }

  /** [[dedupDeltaBatch]] against a PARTITIONED on-disk index
    * ([[writeSignatureIndex]] layout) with the index scan PRUNED to what
    * the batch can possibly collide with — the piece that makes the
    * per-batch cost stop being corpus-sized I/O:
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
    * Verdicts are exactly [[dedupDeltaBatch]]'s: docs whose bands miss
    * every batch band key can never form a candidate pair, so dropping
    * them from the probe is lossless (equality vs the flat-index pass is
    * pinned by IncrementalDedupSpec).
    *
    * The returned frame is SETTLED (eager `cutLineage`) and the
    * intermediates this function persists are released before it returns
    * — per-micro-batch callers accumulate no CacheManager entries.
    * `batchSigs` feeds two candidate arms and a verification join; the
    * CALLER should persist it (and owns its release) if it also uses the
    * signatures afterwards, as the index-append path does. */
  def dedupDeltaBatchPruned(batchIds: DataFrame, batchSigs: DataFrame,
                            indexPath: String, minJac: Double,
                            nParts: Int = IndexParts,
                            excludeOwnIds: Boolean = false): DataFrame = {
    val (verdicts, cached) = dedupDeltaBatchPrunedPlan(
      batchIds, batchSigs, indexPath, minJac, nParts, excludeOwnIds)
    val out = verdicts.cutLineage()
    cached.foreach(_.unpersist(): Unit)
    out
  }

  /** The LAZY probe plan behind [[dedupDeltaBatchPruned]], plus the
    * intermediates it persisted (released by the settled wrapper; a
    * direct caller owns them). Exists so the plan pins (PlanSpec,
    * IncrementalDedupSpec) can inspect the exact frame the settled path
    * materializes — after the checkpoint, the executed plan is just an
    * RDD scan and the partition-filter/broadcast-semi shape is invisible. */
  private[graft] def dedupDeltaBatchPrunedPlan(
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
    val pts = batchBands
      .select(pmod(xxhash64(col("bk")), lit(nParts.toLong)).cast("int").as("band_pt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // persisted: feeds both the doc_pt prune below and the candidate
    // join; collided-rows-sized — batch-proportional, never corpus-
    // proportional
    // logically-forgotten docs must not act as corpus partners: anti-join
    // the broadcast tombstone set (plan-neutral when no tombstones exist)
    val bandsMatchedRaw = antiTombstoned(
      spark.read.schema(bandsSchema).parquet(s"$indexPath/bands")
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
    val dpts = collided
      .select(pmod(col("doc_id"), lit(nParts.toLong)).cast("int").as("doc_pt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val prunedHs = spark.read.schema(sigsSchema).parquet(s"$indexPath/sigs")
      .where(col("doc_pt").isin(dpts: _*))
      .join(collided, Seq("doc_id"), "left_semi")
      .select("doc_id", "hs")
    (dedupDeltaCore(batchIds, bs, bandsMatched, prunedHs, minJac),
      Seq(batchBands, bandsMatched))
  }

  /** Incremental near-dup verdicts for a NEW BATCH against a persisted
    * corpus signature index — the delta-dedup step that never recomputes
    * the ingested corpus: candidates are (batch × index) plus
    * (batch × earlier-batch-row) band-key equi-joins, verification is
    * exact Jaccard over the stored shingle sets, and the per-document
    * decision is "drop iff it near-dups any indexed doc or any
    * SMALLER-id doc of the same batch" (arrival order within the batch).
    *
    * Returns one row per `batchIds` doc: (doc_id, verdict keep|drop,
    * matched_id, matched_jac_e4, matched_in corpus|batch|none), where
    * matched_id is the SMALLEST qualifying partner id (deterministic).
    *
    * Scale shape: the index is probed by band-key equi-join only — cost ∝
    * batch size + collided-bucket membership, never corpus size; with the
    * [[writeSignatureIndex]] layout, [[dedupDeltaBatchPruned]] additionally
    * prunes the index SCAN itself to collided shards.
    * `batchSigs` is persisted here: it feeds both candidate arms and both
    * verification joins. */
  def dedupDeltaBatch(batchIds: DataFrame, batchSigs: DataFrame,
                      indexSigs: DataFrame, minJac: Double): DataFrame = {
    val bs = batchSigs.persist()
    dedupDeltaCore(batchIds, bs,
      indexSigs.select(col("doc_id"), explode(col("bands")).as("bk")),
      indexSigs.select("doc_id", "hs"), minJac)
  }

  /** Shared delta-dedup core: `iBand` is the corpus-side candidate band
    * rows (doc_id, bk) — the full index exploded for the flat path, or
    * just the batch-collided rows for the pruned path (equivalent: an
    * index band with no batch match joins nothing) — and `idxHs` the
    * (doc_id, hs) verification payloads covering at least every `iBand`
    * doc. `bs` must already be persisted: it feeds both candidate arms
    * and the batch-side verification join. */
  private def dedupDeltaCore(batchIds: DataFrame, bs: DataFrame,
                             iBand: DataFrame, idxHs: DataFrame,
                             minJac: Double): DataFrame = {
    val bBand = bs.select(col("doc_id"), explode(col("bands")).as("bk"))
    // batch-vs-corpus: unordered (the corpus partner qualifies regardless
    // of id order); batch-vs-batch: earlier (smaller id) doc wins
    val candCorpus = bBand.select(col("doc_id").as("id_d"), col("bk"))
      .join(iBand.select(col("doc_id").as("id_p"), col("bk")), Seq("bk"))
      // self-match guard: a retried batch whose kept signatures were
      // already appended to the index would otherwise match itself at
      // Jaccard 1.0 and be wrongly dropped against its own index row
      .where(col("id_d") =!= col("id_p"))
      .select("id_d", "id_p").distinct()
      .withColumn("src", lit("corpus"))
    val candBatch = bucketPairs(bBand, "doc_id", "bk")
      .select(col("id_r").as("id_d"), col("id_l").as("id_p"))
      .withColumn("src", lit("batch"))
    val partnerHs = bs.select(col("doc_id").as("id_p"), col("hs").as("hs_p"))
      .unionByName(idxHs.select(col("doc_id").as("id_p"), col("hs").as("hs_p")))
    val verified = candCorpus.unionByName(candBatch)
      .join(bs.select(col("doc_id").as("id_d"), col("hs").as("hs_d")), Seq("id_d"))
      .join(partnerHs, Seq("id_p"))
      .withColumn("inter", intersectSizeSorted(col("hs_d"), col("hs_p")))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("hs_d")) + size(col("hs_p")) - col("inter")))
      .where(col("jac") >= minJac)
      .withColumn("jac_e4", round(col("jac") * 10000).cast("long"))
    // smallest qualifying partner = min over the (id_p-first) struct;
    // (id_d, id_p) is unique across both arms (corpus and batch partner
    // id spaces are disjoint), so the struct min is total
    val best = verified.groupBy("id_d")
      .agg(min(struct(col("id_p"), col("jac_e4"), col("src"))).as("b"))
    batchIds.select(col("doc_id").cast("long").as("doc_id"))
      .join(best.withColumnRenamed("id_d", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("b").isNull, "keep").otherwise("drop").as("verdict"),
        coalesce(col("b.id_p"), lit(-1L)).as("matched_id"),
        coalesce(col("b.jac_e4"), lit(-1L)).as("matched_jac_e4"),
        coalesce(col("b.src"), lit("none")).as("matched_in"))
  }

  // ----- incremental near-dup cluster store --------------------------------
  //
  // [[connectedComponents]] labels a STATIC pair set; production keeps the
  // labels as state and folds each micro-batch's near-dup pairs in — the
  // missing incremental piece between per-batch verdicts
  // ([[dedupDeltaBatchPruned]]) and corpus-wide keep/drop decisions. The
  // store is a family of sharded tables (the [[ShardedStore]] idiom):
  //
  //  - `by_doc/doc_pt=K`      — (doc_id, cluster_id), the LOOKUP side: a
  //    batch resolves its endpoints' labels with a doc_pt partition filter
  //    + broadcast semi (batch-shard-sized I/O, never store-sized);
  //  - `by_cluster/cluster_pt=K` — (cluster_id, doc_id), the MERGE side:
  //    when clusters merge, the losing clusters' members are enumerated
  //    with a cluster_pt filter and only affected shards are rewritten;
  //  - `edges/edge_pt=K`      — (id_l, id_r), the persisted PAIR
  //    EVIDENCE, keyed by the canonical MIN ENDPOINT (fmt 2): the piece
  //    that makes retraction exact. Without it, forgetting a doc could
  //    only drop its label row — the components it alone bridged would
  //    survive as one cluster forever. With it,
  //    [[forgetFromClusterStore]] re-derives ONLY the affected
  //    components from surviving evidence, splitting exactly where a
  //    from-scratch recompute over surviving docs would. Label-free
  //    rows mean relabels never rewrite evidence, and presence probes
  //    prune by the batch's own endpoints (no label dependency);
  //  - stable stores add `alloc/alloc_pt=K` (label → external id) and
  //    `ext_retired/ext_pt=K` (the fresh-mint uniqueness guard).
  //
  // Merging contracts each existing component to its label node (labels
  // are min-member ids, so min-root union-find over {labels} ∪ {batch ids}
  // reproduces min-reachable-id over the FULL edge history — the catalog
  // entry proves equality to the from-scratch recompute cross-engine).
  // The contracted graph is batch-grain (batch pairs + touched labels,
  // count-guarded BEFORE collection), so the driver union-find is bounded
  // by the micro-batch, never the corpus; member relabeling stays
  // distributed. Shard rewrites follow the [[ShardedStore]] commit-marker
  // protocol: ALL tables stage completely, the store-level `_commit`
  // marker is written, then every table swaps — so a crash anywhere rolls
  // the WHOLE store to one side of the boundary ([[recoverClusterStore]]
  // at open; the r15 cross-table window — by_cluster committed forward,
  // by_doc rolled back — is structurally impossible). Replay-idempotent:
  // a retried batch finds its roots merged, its docs present, and its
  // edges stored, and writes nothing.

  private val byDocSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, cluster_id BIGINT, doc_pt INT")
  private val byClusterSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "cluster_id BIGINT, doc_id BIGINT, cluster_pt INT")
  // edges are keyed by their CANONICAL MIN ENDPOINT (edge_pt =
  // id_l % nParts, id_l < id_r), not by component label (layout fmt 2):
  // presence probes prune by the batch pairs' own endpoints — no
  // dependency on current labels, so the probe rides the SAME collect as
  // the by_doc lookup (one pruned read per merge, the r16 two-read floor
  // gone) — and relabeling never moves an edge row, so merges stopped
  // rewriting edge shards entirely (evidence is label-free). Forget still
  // prunes exactly: an affected component's edges all have id_l ∈ its
  // members, whose shard list the forget already computes for by_doc.
  private val edgesSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id_l BIGINT, id_r BIGINT, edge_pt INT")

  /** Store layout version, stamped in the manifest: 2 = min-endpoint-keyed
    * edges + the ext-retired guard table (r17). */
  private val ClusterStoreFmt = 2L

  private def clusterTables(storePath: String) = Seq(
    ShardedStore.Table(s"$storePath/by_doc", "doc_pt"),
    ShardedStore.Table(s"$storePath/by_cluster", "cluster_pt"),
    ShardedStore.Table(s"$storePath/edges", "edge_pt"),
    ShardedStore.Table(s"$storePath/alloc", "alloc_pt"),
    ShardedStore.Table(s"$storePath/ext_retired", "ext_pt"))

  /** Rolls every cluster-store table to ONE rewrite boundary (the
    * [[recoverSignatureIndex]] sibling — see [[ShardedStore.recover]]);
    * run at store open. */
  def recoverClusterStore(spark: org.apache.spark.sql.SparkSession,
                          storePath: String): Unit =
    ShardedStore.recover(spark, storePath, clusterTables(storePath))

  private def clusterManifestFile(storePath: String) =
    s"$storePath/_manifest.json"

  private def readClusterManifest(spark: org.apache.spark.sql.SparkSession,
                                  storePath: String): Int = {
    val fs = hadoopFs(spark, storePath)
    require(fs.exists(ShardedStore.hp(clusterManifestFile(storePath))),
      s"cluster store at $storePath has no manifest — not a mergeClustersBatch " +
        "layout (or an incomplete bootstrap)")
    val s = ShardedStore.readTextFile(spark, clusterManifestFile(storePath))
    val fmt = ShardedStore.jsonField(s, "fmt")
    require(fmt.contains(ClusterStoreFmt),
      s"cluster store at $storePath has layout fmt=${fmt.getOrElse("pre-r17")}" +
        s" but this build reads fmt=$ClusterStoreFmt (min-endpoint-keyed" +
        " edges, ext-retired guard table) — rebuild the store from its" +
        " source batches or migrate it offline; mutating it in place" +
        " would corrupt the old layout")
    ShardedStore.jsonField(s, "nParts").map(_.toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"cluster-store manifest at $storePath missing 'nParts': $s"))
  }

  private def writeClusterStore(labels: DataFrame, edges: DataFrame,
                                storePath: String, nParts: Int,
                                allocEpoch: Option[Long]): Unit = {
    val spark = labels.sparkSession
    val l = labels.persist()
    try {
      l.select(col("doc_id"), col("cluster_id"))
        .withColumn("doc_pt", pmod(col("doc_id"), lit(nParts.toLong)).cast("int"))
        .repartition(nParts, col("doc_pt"))
        .write.mode("overwrite").partitionBy("doc_pt").parquet(s"$storePath/by_doc")
      l.select(col("cluster_id"), col("doc_id"))
        .withColumn("cluster_pt", pmod(col("cluster_id"), lit(nParts.toLong)).cast("int"))
        .repartition(nParts, col("cluster_pt"))
        .write.mode("overwrite").partitionBy("cluster_pt").parquet(s"$storePath/by_cluster")
      edges.select(col("id_l"), col("id_r"))
        .withColumn("edge_pt", pmod(col("id_l"), lit(nParts.toLong)).cast("int"))
        .repartition(nParts, col("edge_pt"))
        .write.mode("overwrite").partitionBy("edge_pt").parquet(s"$storePath/edges")
      // stable stores: every component allocates its label as ext_id at
      // the bootstrap epoch
      allocEpoch.foreach { ep =>
        l.select(col("cluster_id")).distinct()
          .select(col("cluster_id"), col("cluster_id").as("ext_id"),
            lit(ep).as("ep"))
          .withColumn("alloc_pt", pmod(col("cluster_id"), lit(nParts.toLong)).cast("int"))
          .repartition(nParts, col("alloc_pt"))
          .write.mode("overwrite").partitionBy("alloc_pt").parquet(s"$storePath/alloc")
      }
    } finally l.unpersist()
    // manifest written LAST: a readable manifest implies a complete bootstrap
    ShardedStore.writeTextFile(spark, clusterManifestFile(storePath),
      s"""{"nParts":$nParts,"fmt":$ClusterStoreFmt}""")
  }

  /** Folds one micro-batch of near-dup PAIRS (and its node set) into the
    * persisted cluster store — incremental connected components with the
    * min-member-id labeling of [[connectedComponents]] (the catalog entry
    * pins equality to the from-scratch recompute against the DuckDB
    * recursive-CTE oracle). First call bootstraps the store. Returns one
    * (doc_id, cluster_id) row per batch node — the batch's final labels.
    *
    * `nodes` needs column `id`; `pairs` columns `id_l`,`id_r` (either
    * endpoint may be new or already stored). Batch-grain driver state
    * only (pairs + touched labels, count-guarded by `driverPairLimit` /
    * `driverNodeLimit` BEFORE collection); member relabeling is a
    * distributed, shard-pruned staged rewrite, and the batch's pair
    * evidence lands in the `edges` table (keyed by canonical min
    * endpoint — label-free, so relabels never rewrite it) so
    * [[forgetFromClusterStore]] can later split what this merge joined. */
  def mergeClustersBatch(nodes: DataFrame, pairs: DataFrame, storePath: String,
                         nParts: Int = IndexParts,
                         driverPairLimit: Long = 1000000L,
                         driverNodeLimit: Long = 1000000L,
                         allocEpoch: Option[Long] = None): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    recoverClusterStore(spark, storePath)
    // a STABLE store's allocation table must be maintained in the SAME
    // commit boundary as the label tables (a second transaction loses
    // the pre-merge constituent labels if the process dies between the
    // two — the retry could then only allocate fresh, silently breaking
    // inheritance): fail loudly when a stable store is merged without
    // an epoch
    val allocExists = hadoopFs(spark, storePath)
      .exists(ShardedStore.hp(s"$storePath/alloc"))
    require(!allocExists || allocEpoch.isDefined,
      s"cluster store at $storePath carries stable-id allocations — merge " +
        "through mergeClustersStable (or pass allocEpoch) so they stay consistent")
    // ... and the REVERSE direction: an epoch on an existing store that
    // was bootstrapped WITHOUT stable ids must not silently "upgrade" it —
    // the alloc table would cover only batch-touched components, and every
    // other component's ext would later read back as a silent wrong id
    val bootstrapping = !hadoopFs(spark, storePath)
      .exists(ShardedStore.hp(clusterManifestFile(storePath)))
    require(allocEpoch.isEmpty || bootstrapping || allocExists,
      s"cluster store at $storePath was bootstrapped without stable-id " +
        "allocations — an epoch-carrying merge would create an alloc table " +
        "covering only this batch's components, silently mis-allocating " +
        "every other component; rebuild the store with a stable bootstrap")
    // persisted: the count-guard and the collect are separate actions, and
    // the caller's pair lineage is typically the full candidate pipeline
    // (e.g. banded minhash + exact-Jaccard refinement) — without the cache
    // every guarded batch pays that pipeline twice
    val ns = nodes.select(col("id").cast("long").as("id")).distinct().persist()
    val ps = pairs.select(col("id_l").cast("long").as("id_l"),
      col("id_r").cast("long").as("id_r")).distinct().persist()
    val fs = hadoopFs(spark, storePath)
    if (!fs.exists(new org.apache.hadoop.fs.Path(storePath)) ||
        !fs.exists(ShardedStore.hp(clusterManifestFile(storePath)))) {
      val allNodes = ns.union(ps.select(col("id_l").as("id")))
        .union(ps.select(col("id_r").as("id"))).distinct()
      val receipt0 = settled(connectedComponents(allNodes, ps)
          .select(col("node").as("doc_id"), col("cluster_id"))) { cc =>
        // pair evidence in canonical lo<hi orientation — label-free (fmt 2:
        // keyed by min endpoint, so later relabels never move a row)
        val canon = ps.where(col("id_l") =!= col("id_r"))
          .select(least(col("id_l"), col("id_r")).as("id_l"),
            greatest(col("id_l"), col("id_r")).as("id_r")).distinct()
        val receipt = cc
          .join(ns.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
          .cutLineage()
        writeClusterStore(cc, canon, storePath, nParts, allocEpoch)
        receipt
      }
      ps.unpersist(); ns.unpersist()
      return receipt0
    }
    val mParts = readClusterManifest(spark, storePath)
    require(mParts == nParts,
      s"cluster store at $storePath has nParts=$mParts, caller supplied $nParts" +
        " — partition pruning would miss shards")
    // batch-grain driver state: pairs + node ids, COUNT-guarded before any
    // row reaches the driver (an oversized micro-batch fails loudly
    // instead of OOMing the driver mid-collect)
    val nPairs = ps.count()
    require(nPairs <= driverPairLimit,
      s"mergeClustersBatch: $nPairs pairs exceeds driverPairLimit=" +
        s"$driverPairLimit — split the batch")
    val nNodes = ns.count()
    require(nNodes <= driverNodeLimit,
      s"mergeClustersBatch: $nNodes nodes exceeds driverNodeLimit=" +
        s"$driverNodeLimit — split the batch")
    val pairRows = ps.collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodeIds = ns.collect().map(_.getLong(0))
    ps.unpersist(); ns.unpersist() // driver state from here on
    val touched = (nodeIds ++ pairRows.flatMap(p => Seq(p._1, p._2))).distinct
    if (touched.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, cluster_id BIGINT"))
    def ptOf(id: Long) = (((id % nParts) + nParts) % nParts).toInt
    // resolve touched ids' existing labels AND the batch pairs' stored-
    // evidence presence in ONE pruned collect: both prunes derive from
    // the batch alone (doc_pt of touched ids; edge_pt of the canonical
    // min endpoints — fmt 2 keys edges by endpoint, not by label), so
    // neither scan waits on the other, and the replay hot path costs a
    // single job where r16 paid two (the by_doc lookup, then a label-
    // keyed probe that could not start until the lookup resolved)
    val canonPairs = pairRows.filter(p => p._1 != p._2)
      .map { case (l, r) => if (l < r) (l, r) else (r, l) }.distinct
    val dpts = touched.map(ptOf).distinct.toSeq
    val byDocScan = spark.read.schema(byDocSchema)
      .parquet(s"$storePath/by_doc")
      .where(col("doc_pt").isin(dpts: _*))
      .join(broadcast(touched.toSeq.toDF("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("a"), col("cluster_id").as("b"),
        lit(0).as("tag"))
    val scan = if (canonPairs.isEmpty) byDocScan else byDocScan.unionByName(
      spark.read.schema(edgesSchema).parquet(s"$storePath/edges")
        .where(col("edge_pt").isin(canonPairs.map(p => ptOf(p._1)).distinct.toSeq: _*))
        .join(broadcast(canonPairs.toSeq.toDF("id_l", "id_r")),
          Seq("id_l", "id_r"), "left_semi")
        .select(col("id_l").as("a"), col("id_r").as("b"), lit(1).as("tag")))
    // bounded by |touched| + |canonPairs|, both count-guarded above
    val collected = scan.collect()
    val known: Map[Long, Long] = collected.iterator
      .filter(_.getInt(2) == 0).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val storedPairs: Set[(Long, Long)] = collected.iterator
      .filter(_.getInt(2) == 1).map(r => (r.getLong(0), r.getLong(1))).toSet
    // contracted union-find over {labels} ∪ {new ids} — min-root, so the
    // final labels are min-reachable-id over the full edge history
    val parent = new java.util.HashMap[Long, Long]()
    def add(x: Long): Unit = { parent.putIfAbsent(x, x): Unit }
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    def rep(id: Long): Long = known.getOrElse(id, id)
    touched.foreach(id => add(rep(id)))
    pairRows.foreach { case (l, r) =>
      val (a, b) = (find(rep(l)), find(rep(r)))
      if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
    }
    import scala.jdk.CollectionConverters._
    val rootOf: Map[Long, Long] =
      parent.keySet().asScala.map(k => k -> find(k)).toMap
    // losers: stored labels whose component now has a smaller root (their
    // members must relabel); newDocs: touched ids absent from the store
    val losers = known.values.toSet.filter(l => rootOf(l) != l)
    val newDocs = touched.filterNot(known.contains)
      .map(id => (id, rootOf(rep(id)))).toSeq
    val receipt = nodeIds.map(id => (id, rootOf(find(rep(id))))).toSeq
      .toDF("doc_id", "cluster_id")
    // evidence this batch adds: canonical pairs absent from the store —
    // a driver set-difference over the SAME collect as the label lookup.
    // Replay-idempotence: a retried batch finds every pair stored and
    // stages nothing
    val newEdgeRows = canonPairs.filterNot(storedPairs).toSeq
    val hasNewEdges = newEdgeRows.nonEmpty
    if (losers.isEmpty && newDocs.isEmpty && !hasNewEdges) return receipt
    val remap = losers.toSeq.map(l => (l, rootOf(l))).toDF("cluster_id", "__root")
    // every component that changed contributes its final root's shard
    val finalRoots = (losers.map(rootOf) ++ newDocs.map(_._2)).toSeq.distinct
    // phase 0 (settled reads): the losing clusters' members — needed for
    // the by_doc rewrite's shard list — are read from live dirs and
    // settled BEFORE any staging/swap touches the store
    val loserPts = losers.map(ptOf).toSeq.distinct
    val loserDocPts = if (losers.isEmpty) Seq.empty[Int]
      else settled(spark.read.schema(byClusterSchema).parquet(s"$storePath/by_cluster")
          .where(col("cluster_pt").isin(loserPts: _*))
          .join(broadcast(losers.toSeq.toDF("cluster_id")), Seq("cluster_id"), "left_semi")
          .select("doc_id")) { loserMembers =>
        loserMembers.select(pmod(col("doc_id"), lit(nParts.toLong)).cast("int").as("pt"))
          .distinct().collect().map(_.getInt(0)).toSeq
      }
    val docPts = (loserDocPts ++ newDocs.map(d => ptOf(d._1))).distinct
    val Seq(byDocT, byClusterT, edgesT, allocT, _) = clusterTables(storePath)
    val relabel = losers.nonEmpty || newDocs.nonEmpty
    // phase 1 (stage EVERY affected table completely, live dirs untouched)
    val clusterPts = (loserPts ++ finalRoots.map(ptOf)).distinct
    if (relabel) {
      val newRows = newDocs.toDF("doc_id", "cluster_id")
      val byClusterKept = spark.read.schema(byClusterSchema)
        .parquet(s"$storePath/by_cluster")
        .where(col("cluster_pt").isin(clusterPts: _*))
        .join(broadcast(remap), Seq("cluster_id"), "left")
        .select(coalesce(col("__root"), col("cluster_id")).as("cluster_id"),
          col("doc_id"))
        .unionByName(newRows.select(col("cluster_id"), col("doc_id")))
        .withColumn("cluster_pt", pmod(col("cluster_id"), lit(nParts.toLong)).cast("int"))
      ShardedStore.stage(byClusterKept, byClusterT,
        math.min(nParts, clusterPts.size), clusterPts)
      val byDocKept = spark.read.schema(byDocSchema).parquet(s"$storePath/by_doc")
        .where(col("doc_pt").isin(docPts: _*))
        .join(broadcast(remap), Seq("cluster_id"), "left")
        .select(col("doc_id"), coalesce(col("__root"), col("cluster_id")).as("cluster_id"))
        .unionByName(newRows)
        .withColumn("doc_pt", pmod(col("doc_id"), lit(nParts.toLong)).cast("int"))
      ShardedStore.stage(byDocKept, byDocT, math.min(nParts, docPts.size), docPts)
    }
    // edges: fmt 2 rows are label-free, so relabeling never touches them —
    // only NEW evidence stages, into its min-endpoint shards (the r16
    // loser re-key rewrite is gone entirely)
    val edgePts = newEdgeRows.map(p => ptOf(p._1)).distinct
    if (hasNewEdges) {
      val edgesKept = spark.read.schema(edgesSchema).parquet(s"$storePath/edges")
        .where(col("edge_pt").isin(edgePts: _*))
        .select("id_l", "id_r")
        .unionByName(newEdgeRows.toDF("id_l", "id_r"))
        .distinct()
        .withColumn("edge_pt", pmod(col("id_l"), lit(nParts.toLong)).cast("int"))
      ShardedStore.stage(edgesKept, edgesT,
        math.min(nParts, edgePts.size), edgePts)
    }
    // alloc maintenance (stable stores), staged under the SAME commit
    // boundary — see the guard at the top of this function: constituents
    // of each changed component are its losing labels plus its final root
    // when that label pre-existed; the FIRST-ALLOCATED constituent's
    // (ext_id, ep) wins (tie: smaller ext_id); brand-new components
    // allocate (root, allocEpoch) — FRESH mints are guarded against the
    // ext-retired table (a forgotten ext-holder doc id re-ingested as a
    // new component seed must fail loudly, not silently duplicate a live
    // ext — see [[requireExtNotRetired]])
    val allocStaged: Option[Seq[Int]] = allocEpoch.flatMap { ep =>
      val prevLabels = known.values.toSet
      if (finalRoots.isEmpty) None
      else {
        val consts: Map[Long, Set[Long]] = finalRoots.map { r =>
          r -> (losers.filter(l => rootOf(l) == r) ++
            (if (prevLabels.contains(r)) Set(r) else Set.empty[Long]))
        }.toMap
        val keys = (losers.toSeq ++ finalRoots).distinct
        val allocDir = s"$storePath/alloc"
        val existing: Map[Long, (Long, Long)] =
          if (!fs.exists(ShardedStore.hp(allocDir))) Map.empty
          else spark.read.schema(allocSchema).parquet(allocDir)
            .where(col("alloc_pt").isin(keys.map(ptOf).distinct: _*))
            .join(broadcast(keys.toDF("cluster_id")), Seq("cluster_id"), "left_semi")
            .select("cluster_id", "ext_id", "ep")
            .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val newRowsF = finalRoots.map { r =>
          val cands = consts(r).flatMap(c =>
            existing.get(c).map { case (e, e0) => (e0, e) })
          if (cands.nonEmpty) { val (ep0, ext) = cands.min; (r, ext, ep0, false) }
          else (r, r, ep, true) // fresh mint — guarded below
        }
        requireExtNotRetired(spark, storePath,
          newRowsF.collect { case (_, e, _, true) => e }, nParts)
        val newRows = newRowsF.map(t => (t._1, t._2, t._3))
        val unchanged = newRows.forall { case (r, ext, ep0) =>
          existing.get(r).contains((ext, ep0)) } &&
          losers.filterNot(finalRoots.contains).forall(!existing.contains(_))
        if (unchanged) None
        else {
          val aPts = keys.map(ptOf).distinct
          val base =
            if (fs.exists(ShardedStore.hp(allocDir)))
              spark.read.schema(allocSchema).parquet(allocDir)
                .where(col("alloc_pt").isin(aPts: _*))
                .join(broadcast(keys.toDF("cluster_id")), Seq("cluster_id"), "left_anti")
                .select("cluster_id", "ext_id", "ep")
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType.fromDDL(
                "cluster_id BIGINT, ext_id BIGINT, ep BIGINT"))
          val kept = base.unionByName(newRows.toDF("cluster_id", "ext_id", "ep"))
            .withColumn("alloc_pt",
              pmod(col("cluster_id"), lit(nParts.toLong)).cast("int"))
          ShardedStore.stage(kept, allocT, math.min(nParts, aPts.size), aPts)
          Some(aPts)
        }
      }
    }
    // phase 2: every staging is complete — write the store-level commit
    // marker; a crash anywhere from here rolls the WHOLE store forward
    ShardedStore.commit(spark, storePath)
    if (relabel) {
      ShardedStore.swap(spark, byClusterT, clusterPts)
      ShardedStore.swap(spark, byDocT, docPts)
    }
    if (hasNewEdges) ShardedStore.swap(spark, edgesT, edgePts)
    allocStaged.foreach(aPts => ShardedStore.swap(spark, allocT, aPts))
    ShardedStore.clearCommit(spark, storePath)
    receipt
  }

  /** Removes documents from a persisted cluster store — the retraction
    * side of [[mergeClustersBatch]], and the op that keeps the store
    * equal to a from-scratch labeling over SURVIVING docs (the catalog
    * entry's cross-engine proof). Only the forgotten docs' components are
    * recomputed, from the persisted pair evidence: a forgotten BRIDGE doc
    * splits its component exactly as recomputing from scratch would —
    * labels-only stores cannot do this, which is why the `edges` table
    * exists.
    *
    * Steps (all reads settled before any staging; every affected table
    * swaps under ONE [[ShardedStore]] commit boundary):
    *  1. the forget set's current labels — doc_pt-pruned lookup
    *     (forget-set-shard-sized I/O);
    *  2. the affected components' members (cluster_pt-pruned `by_cluster`
    *     read) and edges (edge_pt-pruned by the member shard list — an
    *     affected component's evidence always has id_l among its members);
    *  3. survivors relabel via [[connectedComponents]] over surviving
    *     members and evidence (driver union-find below the limit, the
    *     distributed pointer-doubling loop above it) — min-reachable-id,
    *     so untouched components' labels can never collide with the new
    *     ones (labels are member ids, components are disjoint);
    *  4. affected shards are rewritten: forgotten docs' rows dropped,
    *     survivors relabeled; surviving evidence stays PUT (label-free
    *     edges) — only rows incident to a forgotten id drop.
    *
    * Returns one settled (doc_id, was_clustered) receipt row per distinct
    * input id. Replay-safe: a retried forget finds the ids absent and
    * writes nothing. Cost ∝ affected components' shards, never store
    * size. */
  def forgetFromClusterStore(removeIds: DataFrame, storePath: String,
                             nParts: Int = IndexParts,
                             driverPairLimit: Long = 1000000L,
                             allocEpoch: Option[Long] = None): DataFrame = {
    val spark = removeIds.sparkSession
    import spark.implicits._
    recoverClusterStore(spark, storePath)
    // a STABLE store (mergeClustersStable) keeps per-cluster external-id
    // allocations keyed by the current label; a forget that relabels or
    // splits components MUST repair them in the same commit boundary, and
    // split remainders need an allocation epoch — fail loudly rather than
    // silently strand alloc rows under vanished labels
    val allocExists = hadoopFs(spark, storePath)
      .exists(ShardedStore.hp(s"$storePath/alloc"))
    require(!allocExists || allocEpoch.isDefined,
      s"cluster store at $storePath carries stable-id allocations — pass " +
        "allocEpoch so split remainders can allocate new external ids")
    val mParts = readClusterManifest(spark, storePath)
    require(mParts == nParts,
      s"cluster store at $storePath has nParts=$mParts, caller supplied $nParts" +
        " — partition pruning would miss shards")
    settled(removeIds.select(col("doc_id").cast("long").as("doc_id")).distinct()) { ids =>
      val nIds = ids.count()
      require(nIds <= driverPairLimit,
        s"forgetFromClusterStore: $nIds ids exceeds driverPairLimit=" +
          s"$driverPairLimit — split the batch")
      val idRows = ids.collect().map(_.getLong(0))
      def ptOf(id: Long) = (((id % nParts) + nParts) % nParts).toInt
      val stored: Map[Long, Long] = if (idRows.isEmpty) Map.empty
        else spark.read.schema(byDocSchema)
          .parquet(s"$storePath/by_doc")
          .where(col("doc_pt").isin(idRows.map(ptOf).distinct.toSeq: _*))
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
          .select("doc_id", "cluster_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val receipt = idRows.map(id => (id, stored.contains(id))).toSeq
        .toDF("doc_id", "was_clustered")
      if (stored.nonEmpty) {
        val affected = stored.values.toSeq.distinct
        val apts = affected.map(ptOf).distinct
        val affDf = affected.toDF("cluster_id")
        // settled reads of the affected components (live dirs untouched until
        // every staging below completes)
        settled(spark.read.schema(byClusterSchema)
            .parquet(s"$storePath/by_cluster")
            .where(col("cluster_pt").isin(apts: _*))
            .join(broadcast(affDf), Seq("cluster_id"), "left_semi")
            .select("cluster_id", "doc_id")) { members =>
          val memberPts = members
            .select(pmod(col("doc_id"), lit(nParts.toLong)).cast("int").as("pt"))
            .distinct().collect().map(_.getInt(0)).toSeq
          // fmt 2 edges are keyed by canonical min endpoint: an affected
          // component's evidence always has id_l ∈ its members, so the member
          // shard list (already needed for the by_doc rewrite) prunes the read
          // exactly; the semi-join restricts shared shards to affected rows
          settled(spark.read.schema(edgesSchema).parquet(s"$storePath/edges")
              .where(col("edge_pt").isin(memberPts: _*))
              .join(members.select(col("doc_id").as("id_l")), Seq("id_l"), "left_semi")
              .select("id_l", "id_r")) { edgesA =>
            val survNodes = members.select(col("doc_id").as("id"))
              .join(broadcast(ids.select(col("doc_id").as("id"))), Seq("id"), "left_anti")
            val survEdges = edgesA
              .join(broadcast(ids.select(col("doc_id").as("id_l"))), Seq("id_l"), "left_anti")
              .join(broadcast(ids.select(col("doc_id").as("id_r"))), Seq("id_r"), "left_anti")
            settled(connectedComponents(survNodes, survEdges,
                driverEdgeLimit = driverPairLimit)
              .select(col("node").as("doc_id"), col("cluster_id"))) { newLabels =>
              val newLabelPts = newLabels
                .select(pmod(col("cluster_id"), lit(nParts.toLong)).cast("int").as("pt"))
                .distinct().collect().map(_.getInt(0)).toSeq
              val cPts = (apts ++ newLabelPts).distinct
              val Seq(byDocT, byClusterT, edgesT, allocT, retiredT) =
                clusterTables(storePath)
              // stage every affected table, then one commit boundary
              val byDocKept = spark.read.schema(byDocSchema).parquet(s"$storePath/by_doc")
                .where(col("doc_pt").isin(memberPts: _*))
                .join(members.select("doc_id"), Seq("doc_id"), "left_anti") // affected rows out
                .select("doc_id", "cluster_id")
                .unionByName(newLabels)                    // survivors back, relabeled
                .withColumn("doc_pt", pmod(col("doc_id"), lit(nParts.toLong)).cast("int"))
              ShardedStore.stage(byDocKept, byDocT, math.min(nParts, memberPts.size),
                memberPts)
              val byClusterKept = spark.read.schema(byClusterSchema)
                .parquet(s"$storePath/by_cluster")
                .where(col("cluster_pt").isin(cPts: _*))
                .join(broadcast(affDf), Seq("cluster_id"), "left_anti")
                .select("cluster_id", "doc_id")
                .unionByName(newLabels.select(col("cluster_id"), col("doc_id")))
                .withColumn("cluster_pt", pmod(col("cluster_id"), lit(nParts.toLong)).cast("int"))
              ShardedStore.stage(byClusterKept, byClusterT, math.min(nParts, cPts.size), cPts)
              // fmt 2 edges never re-key: the rewrite only REMOVES rows incident to
              // a forgotten id — both removal classes live in the member shards
              // (id_l forgotten ⇒ a member's shard; id_r forgotten ⇒ id_l is a
              // surviving member of the same component), so memberPts is exact
              val edgesKept = spark.read.schema(edgesSchema).parquet(s"$storePath/edges")
                .where(col("edge_pt").isin(memberPts: _*))
                .join(broadcast(ids.select(col("doc_id").as("id_l"))), Seq("id_l"), "left_anti")
                .join(broadcast(ids.select(col("doc_id").as("id_r"))), Seq("id_r"), "left_anti")
                .select("id_l", "id_r")
                .withColumn("edge_pt", pmod(col("id_l"), lit(nParts.toLong)).cast("int"))
              ShardedStore.stage(edgesKept, edgesT, math.min(nParts, memberPts.size),
                memberPts)
              // alloc repair (stable stores only), staged under the SAME commit
              // boundary: every affected old label's row is dropped; each surviving
              // sub-component either INHERITS the old component's (ext_id, ep) or
              // allocates fresh at `allocEpoch`; a vanished component's row simply
              // drops. Inheritance FOLLOWS THE HOLDER: the sub-component still
              // containing the allocation's ext_id doc wins (ext ids are
              // allocation-time min-member DOC ids). Inheriting by min-new-label
              // alone — the pre-r17 rule — could hand the ext to one sub-component
              // while another freshly mints ITS min label, which can BE that same
              // ext id (allocated older-but-larger under first-allocated-wins):
              // two live rows, one ext, silently. When the holder doc is itself
              // forgotten, the min-new-label sub-component inherits and the ext is
              // RECORDED in the ext-retired table, so a later merge re-minting it
              // (the holder doc re-ingested as a new component seed) fails loudly.
              val allocPtsOpt: Option[(Seq[Int], Option[Seq[Int]])] =
                if (!allocExists) None
                else settled(members
                    .join(newLabels.withColumnRenamed("cluster_id", "new_label"), Seq("doc_id"))
                    .select(col("cluster_id"), col("new_label")).distinct()) { oldToNew =>
                val nMap = oldToNew.count()
                require(nMap <= driverPairLimit,
                  s"forgetFromClusterStore: $nMap (old,new) label pairs exceeds " +
                    s"driverPairLimit=$driverPairLimit — split the forget batch")
                val mapping = oldToNew.collect().map(r => (r.getLong(0), r.getLong(1)))
                val existing: Map[Long, (Long, Long)] = spark.read.schema(allocSchema)
                  .parquet(s"$storePath/alloc")
                  .where(col("alloc_pt").isin(apts: _*))
                  .join(broadcast(affDf), Seq("cluster_id"), "left_semi")
                  .select("cluster_id", "ext_id", "ep")
                  .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
                // which surviving sub-component holds each allocation's ext doc
                val extDocs = existing.values.map(_._1).toSeq.distinct
                val holderSub: Map[Long, Long] = if (extDocs.isEmpty) Map.empty
                  else newLabels
                    .join(broadcast(extDocs.toDF("doc_id")), Seq("doc_id"), "left_semi")
                    .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
                val newRowsF = mapping.groupBy(_._1).toSeq.flatMap { case (old, subs) =>
                  val labels = subs.map(_._2).distinct
                  val winner: Option[Long] = existing.get(old).map { case (ext, _) =>
                    holderSub.get(ext).filter(labels.contains).getOrElse(labels.min) }
                  labels.map { nl =>
                    if (winner.contains(nl)) {
                      val (ext, ep) = existing(old); (nl, ext, ep, false)
                    } else (nl, nl, allocEpoch.get, true) // fresh mint — guarded below
                  }
                }
                requireExtNotRetired(spark, storePath,
                  newRowsF.collect { case (_, e, _, true) => e }, nParts)
                val newRows = newRowsF.map(t => (t._1, t._2, t._3))
                val aPts = (apts ++ newRows.map(r => ptOf(r._1))).distinct
                val allocKept = spark.read.schema(allocSchema).parquet(s"$storePath/alloc")
                  .where(col("alloc_pt").isin(aPts: _*))
                  .join(broadcast(affDf), Seq("cluster_id"), "left_anti")
                  .select("cluster_id", "ext_id", "ep")
                  .unionByName(newRows.toDF("cluster_id", "ext_id", "ep"))
                  .withColumn("alloc_pt", pmod(col("cluster_id"), lit(nParts.toLong)).cast("int"))
                ShardedStore.stage(allocKept, allocT, math.min(nParts, aPts.size), aPts)
                // retire exts whose holder doc is forgotten while the allocation
                // survives (inherited above) — staged in the SAME boundary: losing
                // the record would silently re-open the reuse hole. Records persist
                // even if the holding component later vanishes — harmless, because
                // the mint guard re-checks LIVENESS against the alloc table on
                // every hit (r18: a stale record no longer blocks a legitimate
                // re-ingest — see [[requireExtNotRetired]]).
                val forgottenSet = idRows.toSet
                val retiredNow = existing.toSeq.collect {
                  case (old, (ext, _))
                    if mapping.exists(_._1 == old) && !holderSub.contains(ext) &&
                      forgottenSet.contains(ext) => ext
                }.distinct
                val retiredPts = if (retiredNow.isEmpty) None else {
                  val rPts = retiredNow.map(ptOf).distinct
                  val retiredDir = s"$storePath/ext_retired"
                  val base =
                    if (!hadoopFs(spark, storePath).exists(ShardedStore.hp(retiredDir)))
                      spark.createDataFrame(
                        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                        org.apache.spark.sql.types.StructType.fromDDL("ext_id BIGINT"))
                    else spark.read.schema(retiredSchema).parquet(retiredDir)
                      .where(col("ext_pt").isin(rPts: _*)).select("ext_id")
                  val kept = base.unionByName(retiredNow.toDF("ext_id")).distinct()
                    .withColumn("ext_pt", pmod(col("ext_id"), lit(nParts.toLong)).cast("int"))
                  ShardedStore.stage(kept, retiredT, math.min(nParts, rPts.size), rPts)
                  Some(rPts)
                }
                Some((aPts, retiredPts))
              }
              ShardedStore.commit(spark, storePath)
              ShardedStore.swap(spark, byDocT, memberPts)
              ShardedStore.swap(spark, byClusterT, cPts)
              ShardedStore.swap(spark, edgesT, memberPts)
              allocPtsOpt.foreach { case (aPts, retiredPts) =>
                ShardedStore.swap(spark, allocT, aPts)
                retiredPts.foreach(rPts => ShardedStore.swap(spark, retiredT, rPts))
              }
              ShardedStore.clearCommit(spark, storePath)
            }
          }
        }
      }
      receipt
    }
  }

  // ----- stable external cluster ids ----------------------------------------
  //
  // Min-member labels are DETERMINISTIC but not STABLE: a cluster relabels
  // whenever a smaller id joins its component, so they make poor external
  // keys (downstream systems would see the same content under a new id).
  // [[mergeClustersStable]] layers an ALLOCATION table over the
  // oracle-verbatim core: `alloc/alloc_pt=K` maps each CURRENT min-member
  // label to (ext_id, ep) — the external id and the epoch it was first
  // allocated. New components allocate ext_id = their label at allocation
  // time; when components MERGE, the FIRST-ALLOCATED constituent's ext_id
  // wins (ties broken by smaller ext_id) — so an external id survives any
  // amount of label churn and changes only when two already-allocated
  // components genuinely fuse (where SOME id must yield, by definition).
  //
  // ext-id UNIQUENESS among live allocations, under forget (r17): each
  // ext is the min-member doc id of its component at allocation time;
  // without retraction components only grow, so no other component can
  // ever mint that id. With forget, two leaks existed and are closed:
  //  1. SPLITS: inheritance follows the HOLDER doc (the sub-component
  //     containing doc ext_id keeps the allocation), so a remainder's
  //     fresh mint — its min member id — can never equal a live ext
  //     (that doc would have pulled the allocation with it);
  //  2. HOLDER FORGOTTEN: the min-new-label sub-component inherits, the
  //     ext is recorded in `ext_retired/ext_pt=K`, and every later FRESH
  //     mint (merge or forget) fails loudly if it would re-issue a
  //     recorded id THAT A LIVE ALLOCATION STILL CARRIES — the
  //     re-ingested-seed hazard that was previously only documented.
  //     A recorded id whose carrying allocation has since vanished is
  //     STALE: the guard re-checks liveness on every hit (r18), so a
  //     legitimate re-ingest of such a doc id mints cleanly instead of
  //     failing forever (the r17 conservative-forever false positive).

  private val allocSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "cluster_id BIGINT, ext_id BIGINT, ep BIGINT, alloc_pt INT")

  private val retiredSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "ext_id BIGINT, ext_pt INT")

  /** Fails loudly when any of `exts` — about to be allocated FRESH — was
    * retired by a forget AND is still carried by a LIVE allocation (the
    * forgotten ext-holder doc id re-ingested as a new component seed
    * while the inheriting component survives): proceeding would silently
    * violate ext uniqueness. A retired record whose carrying allocation
    * has since vanished entirely is STALE — the mint proceeds, because
    * uniqueness is defined over LIVE allocations and liveness is
    * re-checked here, against the pre-op alloc table, on every hit (the
    * r17 guard refused such mints forever — a false positive a 100 TB
    * pipeline with doc-id reuse would really hit). The common no-hit
    * path is unchanged: a pruned, batch-sized ext_retired probe. The
    * liveness check — a one-column alloc scan semi-joined to the hit
    * set — runs only on the rare guard-hit path (alloc shards by
    * cluster_id, so an ext-keyed prune is not available there; the scan
    * reads one BIGINT column). Stale records stay in the guard table:
    * harmless, since every future hit re-checks liveness. No-op when
    * the guard table does not exist. */
  private def requireExtNotRetired(spark: org.apache.spark.sql.SparkSession,
                                   storePath: String, exts: Seq[Long],
                                   nParts: Int): Unit = {
    if (exts.isEmpty) return
    val dirP = s"$storePath/ext_retired"
    if (!hadoopFs(spark, storePath).exists(ShardedStore.hp(dirP))) return
    import spark.implicits._
    val pts = exts.map(e => (((e % nParts) + nParts) % nParts).toInt).distinct
    val hits = spark.read.schema(retiredSchema).parquet(dirP)
      .where(col("ext_pt").isin(pts: _*))
      .join(broadcast(exts.toDF("ext_id")), Seq("ext_id"), "left_semi")
      .select("ext_id").collect().map(_.getLong(0))
    if (hits.isEmpty) return
    val allocDir = s"$storePath/alloc"
    val live: Array[Long] =
      if (!hadoopFs(spark, storePath).exists(ShardedStore.hp(allocDir)))
        Array.empty
      else spark.read.schema(allocSchema).parquet(allocDir)
        .select("ext_id")
        .join(broadcast(hits.toSeq.toDF("ext_id")), Seq("ext_id"), "left_semi")
        .collect().map(_.getLong(0))
    require(live.isEmpty,
      s"cluster store at $storePath: refusing to allocate fresh external " +
        s"id(s) ${live.mkString(",")} — a forget retired them while " +
        "another component still carries them, and that allocation is " +
        "still live (forgotten ext-holder doc id re-ingested as a new " +
        "component seed); re-key the input doc ids, or ext uniqueness " +
        "would be silently violated")
  }

  /** Offline maintenance for the `ext_retired` guard table: drops every
    * record whose ext NO live allocation carries. The table is
    * append-mostly — a record lands when a forget removes a component's
    * ext-holder doc while the component survives, and the hot path never
    * removes one (the mint guard re-checks liveness per hit instead,
    * see [[requireExtNotRetired]]) — so over years of retraction it
    * grows without bound. This compaction bounds it: stale records are
    * exactly the ones the guard would wave through anyway, so dropping
    * them changes no behavior, only the table size (and restores the
    * fast no-hit probe for re-ingested ids whose history is settled).
    *
    * Cost is O(retired + alloc ext column) — an offline pass by design,
    * like [[compactSignatureIndex]]; run it from the same serial
    * maintenance slot as merges/forgets (single-writer discipline).
    * Crash-safe via the store commit protocol: every touched shard
    * stages (emptied shards get EMPTY markers), then swaps behind the
    * store-level `_commit` marker. Returns the number of dropped
    * records; 0 (and no write) when nothing is stale. */
  def compactRetiredExts(spark: org.apache.spark.sql.SparkSession,
                         storePath: String,
                         nParts: Int = IndexParts): Long = {
    import spark.implicits._
    recoverClusterStore(spark, storePath)
    val fs = hadoopFs(spark, storePath)
    val retiredDir = s"$storePath/ext_retired"
    if (!fs.exists(ShardedStore.hp(retiredDir))) return 0L
    settled(spark.read.schema(retiredSchema).parquet(retiredDir)
        .select("ext_id", "ext_pt")) { retired =>
      val allocDir = s"$storePath/alloc"
      val liveExts =
        if (!fs.exists(ShardedStore.hp(allocDir)))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL("ext_id BIGINT"))
        else spark.read.schema(allocSchema).parquet(allocDir).select("ext_id")
      // settled BEFORE the rewrite mutates its source
      settled(retired.join(liveExts, Seq("ext_id"), "left_semi")) { kept =>
        val dropped = retired.count() - kept.count()
        if (dropped != 0L) {
          // only shards holding a stale record rewrite (stage installs ALL
          // of kept, so kept is filtered to the touched shards — untouched
          // dirs stay put); shards emptied entirely are retired via EMPTY
          // markers
          val pts = retired.join(kept, Seq("ext_id"), "left_anti")
            .select("ext_pt").distinct().collect().map(_.getInt(0)).toSeq
          val Seq(_, _, _, _, retiredT) = clusterTables(storePath)
          ShardedStore.stage(
            kept.where(col("ext_pt").isin(pts: _*)).select(col("ext_id"), col("ext_pt")),
            retiredT, math.min(nParts, pts.size), pts)
          ShardedStore.commit(spark, storePath)
          ShardedStore.swap(spark, retiredT, pts)
          ShardedStore.clearCommit(spark, storePath)
        }
        dropped
      }
    }
  }

  /** [[mergeClustersBatch]] plus stable-external-id maintenance. `epoch`
    * is the caller's batch/epoch counter (monotone across calls — it IS
    * the allocation-order tiebreaker). The allocation table is maintained
    * INSIDE the core merge's single commit boundary (passing `allocEpoch`
    * through), so a crash can never land labels and allocations on
    * different sides of a rewrite — this wrapper only attaches the batch
    * nodes' (ext_id, ext_epoch) to the receipt afterwards (a pruned
    * read-only lookup). Returns one settled row per batch node:
    * (doc_id, cluster_id, ext_id, ext_epoch). Replay-idempotent: a
    * retried batch recomputes identical allocations and the core skips
    * the write.
    *
    * Re-ingest of a forgotten ext-holder doc id as a NEW component seed:
    * refused loudly while the allocation that inherited the ext is still
    * LIVE (minting would duplicate it); mints cleanly once that
    * allocation has vanished — the `ext_retired` guard record stays in
    * the table but is re-checked for liveness on every hit, so a
    * legitimate doc-id reuse is never blocked permanently
    * (see [[requireExtNotRetired]]). */
  def mergeClustersStable(nodes: DataFrame, pairs: DataFrame, storePath: String,
                          epoch: Long, nParts: Int = IndexParts,
                          driverPairLimit: Long = 1000000L,
                          driverNodeLimit: Long = 1000000L): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val receipt = mergeClustersBatch(nodes, pairs, storePath, nParts,
      driverPairLimit, driverNodeLimit, allocEpoch = Some(epoch))
      .cutLineage()
    // batch-grain: the receipt covers the batch's nodes only
    val labels = receipt.select(col("cluster_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    def ptOf(id: Long) = (((id % nParts) + nParts) % nParts).toInt
    val ext: DataFrame =
      if (labels.isEmpty)
        Seq.empty[(Long, Long, Long)].toDF("cluster_id", "ext_id", "ext_epoch")
      else spark.read.schema(allocSchema).parquet(s"$storePath/alloc")
        .where(col("alloc_pt").isin(labels.map(ptOf).distinct: _*))
        .join(broadcast(labels.toDF("cluster_id")), Seq("cluster_id"), "left_semi")
        .select(col("cluster_id"), col("ext_id"), col("ep").as("ext_epoch"))
    receipt.join(broadcast(ext), Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"), col("ext_id"), col("ext_epoch"))
  }

  /** Small-graph path: min-root union-find on the driver. The root of each
    * tree is always its component's minimum id (union attaches the larger
    * root under the smaller), so labels equal min-reachable-id exactly. */
  private def ccViaDriver(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    pairs.collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val spark = nodes.sparkSession
    import scala.jdk.CollectionConverters._
    val labels = parent.keySet().asScala.toSeq.map(k => (k, find(k)))
    import spark.implicits._
    val labelDf = labels.toDF("node", "__cc_label")
    nodes.select(col("id").as("node"))
      .join(broadcast(labelDf), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("__cc_label"), col("node")).as("cluster_id"))
  }
}
