package graft.streaming

import graft.ops.Checkpoints._
import graft.ops.{ClusterStore, DedupOps, IvfIndex, ShardedStore, SignatureIndex, TextOps}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming operators. The reference models its event stream as
  * weekly batch over date partitions (SURVEY.md §1.1 — no streaming); a
  * Spark-native engine gets true incremental processing from the same
  * DataFrame declarations: `readStream` → identical transforms →
  * `writeStream`. These helpers mirror the batch operators' semantics so a
  * pipeline can run either mode:
  *
  *  - [[windowedEventCounts]] ≈ zone_report's calendar bucketing, as
  *    watermarked tumbling windows (late data handled by the watermark
  *    instead of weekly full refresh).
  *  - [[sessionize]] ≈ WindowOps.sessionize, as arbitrary stateful
  *    processing (flatMapGroupsWithState) emitting CLOSED sessions
  *    incrementally.
  */
object StreamingOps {

  /** Tumbling-window counts per event_type with late-data watermark.
    * Works on either a batch or streaming DataFrame with (ts, event_type). */
  def windowedEventCounts(events: DataFrame, watermarkDelay: String,
                          windowDuration: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Incremental zone activity report — the reference's stage 3
    * (calculate_zone_report.py) as a streaming aggregation: tumbling
    * windows × zone × per-event-type conditional counts (streaming plans
    * don't support pivot; conditional aggregation is the equivalent with
    * an explicit value list). `events` needs ts, zone_id, event_type. */
  def zoneActivityStream(events: DataFrame, eventTypes: Seq[String],
                         watermarkDelay: String, windowDuration: String): DataFrame = {
    val counts = eventTypes.map(t =>
      count(when(col("event_type") === t, 1)).as(s"n_$t"))
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration), col("zone_id"))
      .agg(counts.head, counts.tail: _*)
      .select(Seq(col("window.start").as("window_start"), col("zone_id")) ++
        eventTypes.map(t => col(s"n_$t")): _*)
  }

  /** Streaming exact dedup on a key column: duplicates arriving within the
    * watermark horizon are dropped with bounded state
    * (`dropDuplicatesWithinWatermark` expires keys once the watermark
    * passes them — the streaming twin of DedupOps.exactDupRank's keep-first
    * semantics). `df` needs an event-time column `ts`. */
  def dedupStream(df: DataFrame, keyCols: Seq[String], watermarkDelay: String): DataFrame =
    df.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dup dedup (MinHash-LSH) via foreachBatch against a
    * persistent band store — the pattern for dedup state that outgrows
    * executor memory at corpus scale: seen LSH band keys live as a parquet
    * table in the lake (joinable, compactable, restart-safe), and each
    * micro-batch is (1) deduped within itself, (2) anti-joined against the
    * store, (3) its surviving bands appended back.
    *
    * A doc is dropped iff it shares ANY band key with an earlier-kept doc
    * (standard LSH-candidate semantics without the refinement join — a
    * streaming-appropriate recall/latency trade documented here). Returns
    * the kept docs of this batch. Wire into
    * `docs.writeStream.foreachBatch { (b, _) => nearDupDedupBatch(b, store) … }`.
    *
    * `batch` must have columns `doc_id` (long) and `text` (string). */
  def nearDupDedupBatch(batch: DataFrame, storePath: String,
                        shingleK: Int = 3, nPerm: Int = 64,
                        nBands: Int = 16): DataFrame = {
    val spark = batch.sparkSession
    val banded = batch
      .withColumn("__hs", TextOps.shingleHashes(col("text"), shingleK))
      .where(size(col("__hs")) > 0)
      .withColumn("__band",
        explode(DedupOps.lshBandKeys(
          DedupOps.minhashSignature(col("__hs"), nPerm), nBands, nPerm / nBands)))
      .select(col("doc_id"), col("__band"))
      .persist()
    // explicit existence probe, NOT try/catch on the read: a corrupted or
    // unreadable store must fail the batch loudly — treating it as "first
    // batch" would silently restart dedup state and re-admit duplicates
    val seen: DataFrame =
      if (ShardedStore.fs(spark, storePath).exists(ShardedStore.hp(storePath)))
        spark.read.parquet(storePath).select(col("__band"))
      else ShardedStore.empty(spark, "__band STRING")
    // within-batch: keep the lowest doc_id per band; a doc survives only if
    // it wins (or is alone in) EVERY one of its bands AND none of its bands
    // is already in the store
    val batchLoser = banded.groupBy("__band")
      .agg(min(col("doc_id")).as("__keep"))
    val dropped = banded
      .join(batchLoser, Seq("__band"))
      .where(col("doc_id") =!= col("__keep"))
      .select("doc_id")
      .union(banded.join(seen, Seq("__band")).select("doc_id"))
      .distinct()
    // eager cut before the store append (settle-before-mutate,
    // see the verified twins): the returned frame's lineage reads `seen`,
    // and a re-evaluation after the append would find the kept docs' own
    // bands in the store and drop them against themselves
    val kept = batch.join(dropped, Seq("doc_id"), "left_anti")
      .cutLineage()
    val newBands = banded.join(kept.select("doc_id"), Seq("doc_id"))
      .select("__band").distinct()
    newBands.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(storePath)
    banded.unpersist()
    kept
  }

  /** Streaming VERIFIED near-dup dedup via foreachBatch against the
    * partitioned signature index — the streaming twin of the
    * dedup_delta_batch2 protocol, and the full-fidelity sibling of
    * [[nearDupDedupBatch]]: band collisions are candidates only, and every
    * verdict is confirmed by exact Jaccard over STORED shingle sets
    * ([[graft.ops.SignatureIndex.probe]]), so recall/precision
    * match the batch pipeline instead of trading refinement away.
    *
    * Per micro-batch: (1) signatures for the batch only; (2) the first
    * batch creates an EMPTY index, and every batch (the first included)
    * probes it with shard-pruned band-key equi-joins — one plan family,
    * so its compiled code is reused from batch to batch; (3) verdicts
    * per doc (drop iff it near-dups an indexed doc or a smaller-id doc of
    * the same batch); (4) KEPT docs' signatures are appended to the index
    * so dropped near-dups never poison future batches. State lives in the lake (parquet, joinable,
    * compactable, restart-safe), never in executor memory — the only
    * shape that survives a 100 TB corpus. Returns the batch's verdict
    * rows (doc_id, verdict, matched_id, matched_jac_e4, matched_in).
    *
    * Wire into `docs.writeStream.foreachBatch { (b, _) =>
    * deltaDedupVerifiedBatch(b, indexPath, 0.7) … }`; `batch` needs
    * `doc_id` (long) and `text` (string). */
  def deltaDedupVerifiedBatch(batch: DataFrame, indexPath: String, minJac: Double,
                              shingleK: Int = 3, nPerm: Int = 64,
                              nBands: Int = 16, nParts: Int = 8): DataFrame = {
    val spark = batch.sparkSession
    val sigs = DedupOps.signatureIndex(
      batch, shingleK, nPerm, nBands, nPerm / nBands).persist()
    // explicit existence probe, NOT try/catch on the read (see
    // nearDupDedupBatch): a corrupted store must fail loudly, not be
    // mistaken for a first batch and silently re-admit duplicates
    val storeExists = ShardedStore.fs(spark, indexPath).exists(ShardedStore.hp(indexPath))
    // self-heal at open: a forget/compaction that died mid-rewrite leaves
    // staging/backup dirs behind; rolling them to a rewrite boundary here
    // (no-op when clean — one listStatus per table) means at-least-once
    // batch processing never probes a half-swapped index. A missing index
    // is created empty (manifest last), so the first batch runs the same
    // probe and append as every later one
    if (storeExists) SignatureIndex.recover(spark, indexPath)
    else SignatureIndex.create(spark, indexPath, nPerm, nBands, nPerm / nBands, nParts)
    // verdicts must be SETTLED before the index mutates below — a cache
    // entry can be recomputed later against the grown index (observed on
    // the IVF sibling: search-before-insert silently became
    // search-after-insert); the pruned probe returns an eagerly
    // checkpointed frame, whose truncated lineage cannot re-evaluate
    val verdicts = SignatureIndex.probe(
      batch.select("doc_id"), sigs, indexPath, minJac, nParts,
      excludeOwnIds = true) // replay-safe: a retried batch never sees
                            // its own failed attempt's index rows
    val kept = verdicts.where(col("verdict") === "keep").select("doc_id")
    // the kept ids are a subset of the batch's, so the batch bounds the
    // broadcast, and the whole signature rows (hs, sig, bands) are not
    // shuffled to join them
    val keptSigs = sigs.join(broadcast(kept), Seq("doc_id"), "left_semi")
    // replay-safe append: a RETRIED batch's kept signatures are already in
    // the index — SignatureIndex.appendNew anti-joins them away on their
    // own doc_pt shards, so at-least-once retries never duplicate index
    // rows (plain append would, unboundedly, and nothing downstream dedups
    // them — the parity battery pins index row counts across a replay)
    SignatureIndex.appendNew(keptSigs, indexPath,
      nPerm, nBands, nPerm / nBands, nParts = nParts)
    sigs.unpersist()
    verdicts
  }

  /** Streaming right-to-be-forgotten via foreachBatch against the
    * partitioned signature index — the RETRACTION twin of
    * [[deltaDedupVerifiedBatch]] (a deletion-request stream is exactly
    * how forget runs in production). Each micro-batch of `doc_id` rows is
    * removed from the persisted index
    * ([[graft.ops.SignatureIndex.remove]]: affected shards
    * only, crash-safe staged rewrite), so no LATER batch can match the
    * forgotten docs — a near-dup of only-forgotten content is admitted
    * again. Returns one SETTLED row per distinct batch id:
    * (doc_id, was_indexed) — whether the doc was present before this
    * removal; the receipt a deletion-request pipeline audits. The
    * receipt is checkpointed BEFORE the removal mutates the index
    * (settle-before-mutate), so it can never observe post-removal state.
    *
    * REPLAY-SAFE under foreachBatch's at-least-once contract: removal of
    * an absent id is a no-op (the shard anti-join keeps everything), so
    * a retried batch converges to the identical index state; its receipt
    * reports was_indexed=false for ids the first attempt already removed
    * — monotone in the safe direction (the doc is certainly gone). */
  def forgetBatch(batch: DataFrame, indexPath: String,
                  nPerm: Int = 64, nBands: Int = 16,
                  nParts: Int = 8): DataFrame = {
    // self-heal at open (see deltaDedupVerifiedBatch): a prior forget
    // that died mid-rewrite must not leave this one reading a
    // half-swapped shard set
    SignatureIndex.recover(batch.sparkSession, indexPath)
    val ids = batch.select(col("doc_id").cast("long").as("doc_id")).distinct()
    val receipt = forgetReceipt(ids, SignatureIndex.present(ids, indexPath, nParts), "doc_id")
    SignatureIndex.remove(ids, indexPath, nPerm, nBands, nPerm / nBands, nParts = nParts)
    receipt
  }

  /** LOGICAL right-to-be-forgotten twin of [[forgetBatch]], on the
    * tombstone path ([[graft.ops.SignatureIndex.tombstone]]):
    * the batch's ids are appended to the index's deletion vector —
    * O(|batch|) write I/O, corpus-independent — instead of rewriting the
    * hit shards immediately; every later probe and presence check
    * anti-joins the tombstones, so the docs are unmatchable from this
    * batch on, and the next compaction purges them physically. Same
    * receipt contract as [[forgetBatch]]: one SETTLED
    * (doc_id, was_indexed) row per distinct batch id, checkpointed
    * before the mutation; replay-safe (a retried batch re-tombstones
    * idempotently and its receipt reports was_indexed=false for ids the
    * first attempt already forgot — monotone in the safe direction).
    * Use [[forgetBatch]] when the payloads must leave DISK immediately;
    * this twin when retraction throughput matters and
    * purge-at-next-compaction retention is acceptable. */
  def forgetBatchLogical(batch: DataFrame, indexPath: String,
                         nParts: Int = 8): DataFrame = {
    SignatureIndex.recover(batch.sparkSession, indexPath)
    val ids = batch.select(col("doc_id").cast("long").as("doc_id")).distinct()
    val receipt = forgetReceipt(ids, SignatureIndex.present(ids, indexPath, nParts), "doc_id")
    SignatureIndex.tombstone(ids, indexPath)
    receipt
  }

  /** The settled receipt of a forget: one (`idCol`, was_indexed) row per
    * row of `ids`, true where `present` (the ids still matchable before the
    * forget) holds it. Checkpointed BEFORE the caller mutates the store
    * (settle-before-mutate), so it can never observe post-forget state. */
  private def forgetReceipt(ids: DataFrame, present: DataFrame, idCol: String): DataFrame =
    ids.join(present.withColumn("was_indexed", lit(true)), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("was_indexed"), lit(false)).as("was_indexed"))
      .cutLineage()

  /** Streaming cluster maintenance via foreachBatch — the stateful twin
    * of dedup_clusters and the downstream consumer of
    * [[deltaDedupVerifiedBatch]]'s verdicts: each micro-batch's verdict
    * rows (doc_id, matched_id — the −1 sentinel marks keeps) fold into
    * the persisted cluster store
    * ([[graft.ops.ClusterStore.merge]]): kept docs open
    * singleton clusters, dropped docs join their matched partner's
    * cluster, and transitive merges relabel every member of every losing
    * cluster (min-member-id labels, equal to a from-scratch
    * connected-components recompute — the catalog entry's oracle).
    * Returns the batch docs' final labels, already settled (the merge's
    * receipt is driver-built). Replay-safe: a retried batch finds its
    * roots merged and its docs present, and writes nothing. State lives
    * in the lake (two sharded parquet tables), never in executor memory.
    *
    * Wire into `docs.writeStream.foreachBatch { (b, _) =>
    *   val v = deltaDedupVerifiedBatch(b, indexPath, 0.7)
    *   clusterMaintainBatch(v, storePath) … }`. */
  def clusterMaintainBatch(verdicts: DataFrame, storePath: String,
                           nParts: Int = 8): DataFrame = {
    ClusterStore.merge(
      verdicts.select(col("doc_id").as("id")),
      verdicts.where(col("matched_id") >= 0)
        .select(col("doc_id").as("id_l"), col("matched_id").as("id_r")),
      storePath, nParts)
  }

  /** Streaming cluster RETRACTION via foreachBatch — the forget twin of
    * [[clusterMaintainBatch]] and the downstream consumer of
    * [[forgetBatch]]/[[forgetBatchLogical]] receipts: each micro-batch of
    * deletion-request `doc_id` rows is removed from the persisted cluster
    * store ([[graft.ops.ClusterStore.forget]]), recomputing
    * ONLY the affected components from the stored pair evidence — a
    * forgotten bridge doc splits its component exactly as a from-scratch
    * recompute over surviving docs would (the catalog entry's oracle).
    * Returns one settled (doc_id, was_clustered) receipt row per distinct
    * batch id; replay-safe (a retried batch finds the ids absent, reports
    * was_clustered=false — monotone in the safe direction — and writes
    * nothing).
    *
    * Wire into the deletion-request stream AFTER the index forget, so
    * verdicts and labels retract together:
    * `dels.writeStream.foreachBatch { (b, _) =>
    *   forgetBatch(b, indexPath); clusterForgetBatch(b, storePath) … }`. */
  def clusterForgetBatch(batch: DataFrame, storePath: String,
                         nParts: Int = 8,
                         allocEpoch: Option[Long] = None): DataFrame = {
    ClusterStore.forget(
      batch.select(col("doc_id").cast("long").as("doc_id")), storePath, nParts,
      allocEpoch = allocEpoch)
  }

  /** Streaming IVF search-then-insert via foreachBatch against the
    * persisted, cell-partitioned vector index ([[graft.ops.IvfIndex]]) —
    * the search-side sibling of [[deltaDedupVerifiedBatch]] and the
    * streaming twin of ann_delta_topk's probe: each micro-batch of
    * (vec_id, embedding) rows is (1) SEARCHED against the postings already
    * indexed (top-k exact cosine over only its probed cells — a
    * `centroid_id IN` partition filter from the batch's own probe
    * assignments), then (2) INSERTED — its rn=1 assignments are appended to
    * their cells' posting directories, so later batches can match it.
    * Search-before-insert means a vector never matches itself and
    * batch-internal pairs surface on the NEXT batch — the standard
    * streaming-ANN trade, documented rather than hidden.
    *
    * The first batch bootstraps the index (generation 0, centroids from
    * [[graft.ops.IvfIndex.strideDraw]] over that batch); all mutations
    * land in the CURRENT generation. A re-ingested, tombstoned vec_id is
    * purged and un-tombstoned first ([[graft.ops.IvfIndex.readmit]]).
    *
    * REPLAY-SAFE under foreachBatch's at-least-once contract when the
    * caller passes the micro-batch id: the search excludes the batch's
    * own `batch_id` partition (a failed attempt's rows are invisible to
    * its retry) and the insert dynamically overwrites exactly its own
    * (cell, batch) directories — the parity spec replays a batch and
    * pins identical hits and an unchanged postings row count. A
    * [[graft.ops.IvfIndex.refreshCentroids]] between attempts preserves
    * `batch_id` partitions, so the contract survives a refresh.
    *
    * Returns this batch's hits: (q_id, c_id, rank, cos_e6), empty for
    * the bootstrap batch. */
  def ivfSearchInsertBatch(batch: DataFrame, indexPath: String,
                           batchId: Long = 0L,
                           nProbe: Int = 2, topK: Int = 5): DataFrame = {
    val spark = batch.sparkSession
    val genDir = IvfIndex.openForInsert(batch, indexPath, "ivfSearchInsertBatch")
    IvfIndex.readmit(batch.select(col("vec_id").cast("long").as("vec_id")), indexPath, genDir)
    val ranked = IvfIndex.rankCells(batch, genDir, nProbe).persist()
    // the hits are settled before the insert below mutates the postings
    val hits =
      if (IvfIndex.hasPostings(spark, genDir))
        IvfIndex.search(ranked, indexPath, genDir, topK, exclude = Some(batchId))
      else IvfIndex.noHits(spark)
    IvfIndex.insert(ranked, genDir, batchId)
    ranked.unpersist()
    hits
  }

  /** Read-only IVF top-k search against a RESOLVED generation dir
    * ([[graft.ops.IvfIndex.resolve]]) — the pinned-reader path of the
    * zero-downtime contract: a reader resolves once and may keep probing
    * that generation while a refresh supersedes it. Forgotten vectors
    * never surface, including AFTER a refresh settles the debt and drops
    * the index-level deletion vector — the generation-local snapshot takes
    * over (spec-pinned). Same probe shape as the insert path's search
    * minus the own-batch exclusion — a pure reader has no batch.
    * `queries` needs (vec_id, embedding); returns settled
    * (q_id, c_id, rank, cos_e6) rows.
    *
    * CONCURRENCY SCOPE — refresh supersession ONLY: reads concurrent with
    * SAME-generation writer batches (the re-ingest purge dynamically
    * overwrites old (cell, batch) dirs) are outside the contract.
    * LOOKBACK WINDOW — one refresh cycle: a reader pinned across two finds
    * its generation pruned and gets a contract error here (a prune racing
    * mid-probe still surfaces as a raw read failure) — re-resolve and
    * re-issue. */
  def ivfSearchResolved(queries: DataFrame, indexPath: String, genDir: String,
                        nProbe: Int = 2, topK: Int = 5): DataFrame = {
    val spark = queries.sparkSession
    IvfIndex.requireGeneration(spark, genDir)
    IvfIndex.checkQueryDim(queries, indexPath, "ivfSearchResolved")
    if (!IvfIndex.hasPostings(spark, genDir)) return IvfIndex.noHits(spark)
    val ranked = IvfIndex.rankCells(queries, genDir, nProbe).persist()
    val hits = IvfIndex.search(ranked, indexPath, genDir, topK, exclude = None)
    ranked.unpersist()
    hits
  }

  /** Streaming right-to-be-forgotten for the VECTOR index — the
    * retraction twin of [[ivfSearchInsertBatch]] and the IVF mirror of
    * [[forgetBatchLogical]]: each micro-batch of deletion-request `vec_id`
    * rows is appended to the index's deletion vector
    * ([[graft.ops.IvfIndex.tombstone]]: O(|batch|) write,
    * corpus-independent); every later search anti-joins it, so the vectors
    * are unmatchable from this batch on, and the next refresh or
    * compaction purges them physically. Returns one SETTLED
    * (vec_id, was_indexed) receipt row per distinct batch id,
    * checkpointed before the mutation (the presence audit is bloom-pruned:
    * [[graft.ops.IvfIndex.present]]). Replay-safe: re-tombstoning is
    * idempotent and a retried batch's receipt reports was_indexed=false
    * for already-forgotten ids — monotone in the safe direction. */
  def forgetVectorsBatch(batch: DataFrame, indexPath: String): DataFrame = {
    IvfIndex.recover(batch.sparkSession, indexPath)
    settled(batch.select(col("vec_id").cast("long").as("vec_id")).distinct()) { ids =>
      val receipt = forgetReceipt(ids, IvfIndex.present(ids, indexPath), "vec_id")
      IvfIndex.tombstone(ids, indexPath)
      receipt
    }
  }

  /** Streaming snapshot maintenance via foreachBatch: fold each micro-batch
    * of (key, version, …) rows into a hive-partitioned lake snapshot with
    * [[graft.ops.Sinks.mergeUpsert]] — the incremental twin of the batch
    * mart refresh. The batch is reduced to its latest row per key first, so
    * the merge's version window never sees an intra-batch tie (rows sharing
    * BOTH key and version resolve arbitrarily — supply a unique version,
    * e.g. event time, if that matters); cost per micro-batch is bounded by
    * the batch's partition footprint, not the snapshot size. Wire into
    * `updates.writeStream.foreachBatch { (b, _) => snapshotMaintainBatch(b, …) }`.
    *
    * First batch bootstraps the snapshot (plain partitioned write). */
  def snapshotMaintainBatch(batch: DataFrame, snapPath: String,
                            keyCols: Seq[String], partitionCols: Seq[String],
                            versionCol: String): Unit = {
    import graft.ops.{Sinks, WindowOps}
    val spark = batch.sparkSession
    val reduced = WindowOps.latestPerKey(batch, keyCols, Seq(col(versionCol)))
    if (ShardedStore.fs(spark, snapPath).exists(ShardedStore.hp(snapPath)))
      Sinks.mergeUpsert(spark, snapPath, reduced, keyCols, partitionCols, versionCol)
    else
      Sinks.writePartitioned(reduced, snapPath, partitionCols)
  }

  /** Stream-stream inner interval join: left rows match right rows with the
    * same keys and rightTs ∈ [leftTs, leftTs + maxGap]. Both sides carry a
    * watermark and the join condition bounds event-time in BOTH directions,
    * so Spark can expire join state — without the time bound a stream-stream
    * join buffers both streams forever. State per key is O(rows within the
    * watermark+gap horizon), independent of stream length — the property
    * that matters when the streams never end.
    *
    * Output columns: all left columns, then right columns renamed with
    * `rightPrefix` (stream-stream joins on same-named columns would
    * otherwise be ambiguous to downstream selects). */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                         leftTs: String, rightTs: String, watermark: String,
                         maxGap: String, rightPrefix: String = "r_"): DataFrame = {
    require(keys.nonEmpty, "streamIntervalJoin: keys must be non-empty")
    val clash = right.columns.map(rightPrefix + _).toSet intersect left.columns.toSet
    require(clash.isEmpty,
      s"streamIntervalJoin: rightPrefix '$rightPrefix' collides with left columns $clash")
    val l = left.withWatermark(leftTs, watermark)
    // atomic select-alias rename (a sequential withColumnRenamed fold would
    // collide mid-way when right contains both 'c' and '<prefix>c')
    val rRenamed = right.select(
      right.columns.map(c => col(c).as(rightPrefix + c)).toIndexedSeq: _*)
    val r = rRenamed.withWatermark(rightPrefix + rightTs, watermark)
    val rts = col(rightPrefix + rightTs)
    val cond = keys.map(k => col(k) === col(rightPrefix + k)).reduce(_ && _) &&
      rts >= col(leftTs) && rts <= col(leftTs) + expr(s"INTERVAL $maxGap")
    l.join(r, cond, "inner")
  }

  /** Per-user session aggregates via the BUILT-IN `session_window` (gap
    * merging done by Spark's native streaming session-window state ops —
    * contrast with [[sessionize]], which hand-rolls the same semantics on
    * flatMapGroupsWithState for custom per-session logic). Emits one row
    * per closed session once the watermark passes its end. Native session
    * windows use the dedicated merging state format, so at scale this is
    * the cheaper of the two: no per-event user state objects, and the
    * window merge runs inside the aggregation operator. */
  def sessionWindowCounts(events: DataFrame, gap: String,
                          watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Stream-static enrichment: a streaming fact joined to a bounded static
    * dimension. The static side is planned per micro-batch as an ordinary
    * broadcast hash join — no streaming state AT ALL is kept for it (the
    * scale property that makes dimension enrichment free on a stream; the
    * reference's geo-enrich step, streaming). */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
                         keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Streaming twin of `quality_linear_score`: the SAME in-row hashing-trick
    * classifier expression applied to a document stream, keeping only
    * positive-scoring docs. Stateless and narrow — no watermark, no state
    * store, no shuffle — so it composes with any downstream stateful op and
    * is exactly as 100 TB-safe as the batch plan (ingest-time quality
    * filtering is where a training pipeline runs this). */
  def qualityFilterStream(docs: DataFrame): DataFrame = {
    import graft.queries.TextQueries.QualityModel
    val toks = TextOps.tokens(col("text"))
    val score = aggregate(
      transform(toks, t => QualityModel.weight(QualityModel.bucket(t))),
      lit(0L), (acc, x) => acc + x)
    docs.withColumn("score", score).where(col("score") > 0)
  }

  case class KeyedValue(user_id: Long, v: Long)
  case class RunningTotal(user_id: Long, n: Long, total: Long)

  /** Per-key running totals on the Spark 4 `transformWithState` API
    * (StatefulProcessor + typed ValueState on the RocksDB state store) —
    * the successor of flatMapGroupsWithState: named state variables,
    * per-variable TTL, timers, and state readable by the state data
    * source. One updated (n, total) row is emitted per key per
    * micro-batch; state is O(1) per key, and `ttl` (e.g. "PT1H") lets
    * inactive keys expire instead of accumulating forever — the
    * property a per-entity accumulator needs on an unbounded stream. */
  class RunningTotalProcessor(ttl: TTLConfig)
    extends StatefulProcessor[Long, KeyedValue, RunningTotal] {
    @transient private var state: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Long)], ttl)
    override def handleInputRows(key: Long, rows: Iterator[KeyedValue],
                                 timers: TimerValues): Iterator[RunningTotal] = {
      var (n, tot) = if (state.exists()) state.get() else (0L, 0L)
      rows.foreach { r => n += 1; tot += r.v }
      state.update((n, tot))
      Iterator.single(RunningTotal(key, n, tot))
    }
  }

  /** Wire [[RunningTotalProcessor]] over a keyed stream. Requires the
    * RocksDB state store provider (transformWithState's only supported
    * backend):
    * `spark.sql.streaming.stateStore.providerClass=
    *  org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`. */
  def runningTotals(events: Dataset[KeyedValue],
                    ttl: TTLConfig = TTLConfig.NONE): Dataset[RunningTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor(ttl),
        TimeMode.None(), OutputMode.Update())
  }

  case class EwmaOut(user_id: Long, n: Long, ewma_scaled: Long)

  /** Streaming binary-decay smoother: per key, each value folds as
    * S := v·128 + (S >> 1) — the same α=1/2 decay as q_ewma_revenue, but
    * a DIFFERENT statistic: unnormalized, over an infinite event-step
    * horizon with per-step right-shift truncation (the batch query is a
    * wsum-normalized exact 8-term ladder — do not parity-check one
    * against the other). Integer arithmetic throughout; a contribution
    * vanishes after ~64 shifts, so state magnitude is bounded by
    * 256·max(v) — O(1) state on an unbounded stream. Values fold in
    * arrival order within a micro-batch, so the smoother is well-defined
    * when the source preserves per-key order (the kafka-per-partition /
    * sorted-replay contract). */
  class EwmaProcessor(ttl: TTLConfig)
    extends StatefulProcessor[Long, KeyedValue, EwmaOut] {
    @transient private var state: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)]("ewma",
        org.apache.spark.sql.Encoders.product[(Long, Long)], ttl)
    override def handleInputRows(key: Long, rows: Iterator[KeyedValue],
                                 timers: TimerValues): Iterator[EwmaOut] = {
      var (n, s) = if (state.exists()) state.get() else (0L, 0L)
      rows.foreach { r => n += 1; s = r.v * 128L + (s >> 1) }
      state.update((n, s))
      Iterator.single(EwmaOut(key, n, s))
    }
  }

  /** Wire [[EwmaProcessor]] over a keyed stream (RocksDB state store, as
    * for [[runningTotals]]). */
  def ewmaStream(events: Dataset[KeyedValue],
                 ttl: TTLConfig = TTLConfig.NONE): Dataset[EwmaOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new EwmaProcessor(ttl),
        TimeMode.None(), OutputMode.Update())
  }

  case class KeyedHash(k: String, hv: Long)
  case class KmvSketch(hs: Array[Long])
  case class KmvOut(k: String, n_held: Long, estimate: Long)

  /** Streaming K-minimum-values distinct sketch — the stateful twin of the
    * batch `q_kmv_distinct`/`q_kmv_union` queries, and the reason KMV is
    * the right sketch for streams: state is the k smallest distinct
    * hashes per key (O(k) BOUNDED on an unbounded stream), merging a
    * micro-batch is set-union + re-truncate (associative + commutative +
    * idempotent, so replays and reordering cannot corrupt it), and the
    * estimate (k−1)·P div h_k is re-emitted per batch. Same hash space
    * and estimator as the batch queries: feed it `HashOps.hashP` values
    * and the final estimate equals the batch sketch of the same data —
    * spec-pinned. */
  class KmvProcessor(k: Int, hashP: Long, ttl: TTLConfig)
    extends StatefulProcessor[String, KeyedHash, KmvOut] {
    @transient private var state: ValueState[KmvSketch] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[KmvSketch]("kmv",
        org.apache.spark.sql.Encoders.product[KmvSketch], ttl)
    override def handleInputRows(key: String, rows: Iterator[KeyedHash],
                                 timers: TimerValues): Iterator[KmvOut] = {
      val held = if (state.exists()) state.get().hs else Array.empty[Long]
      val merged = (held ++ rows.map(_.hv)).distinct.sorted.take(k)
      state.update(KmvSketch(merged))
      val est =
        if (merged.length < k) merged.length.toLong
        else (k - 1).toLong * hashP / merged.last
      Iterator.single(KmvOut(key, merged.length.toLong, est))
    }
  }

  /** Wire [[KmvProcessor]] over a keyed hash stream (RocksDB state store). */
  def kmvDistinctStream(hashes: Dataset[KeyedHash], k: Int, hashP: Long,
                        ttl: TTLConfig = TTLConfig.NONE): Dataset[KmvOut] = {
    val spark = hashes.sparkSession
    import spark.implicits._
    hashes.groupByKey(_.k)
      .transformWithState(new KmvProcessor(k, hashP, ttl),
        TimeMode.None(), OutputMode.Update())
  }

  case class TwapEvent(user_id: Long, ts_us: Long, event_id: Long, cents: Long)
  case class TwapState(last_ts: Long, last_id: Long, last_cents: Long,
                       wsum: Long, dur: Long, n: Long)
  case class TwapOut(user_id: Long, n_holds: Long, total_dur_us: Long, twap_cents: Long)

  /** Streaming TWAP — the stateful twin of the batch `q_twap`: a value is
    * HELD from one observation to the next, so state per user is exactly
    * the open hold (last ts/value) plus the running Σ(cents·dur) and Σdur
    * — O(1) regardless of stream length. Events are folded in
    * (ts, event_id) order within each micro-batch (the batch query's
    * tie-break); across batches the per-key ordered-log assumption holds
    * (same contract as [[sessionize]]). Feeding the batch fixture through
    * in order yields bit-identical per-user TWAP — spec-pinned. */
  class TwapProcessor(ttl: TTLConfig)
    extends StatefulProcessor[Long, TwapEvent, TwapOut] {
    @transient private var state: ValueState[TwapState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TwapState]("twap",
        org.apache.spark.sql.Encoders.product[TwapState], ttl)
    override def handleInputRows(key: Long, rows: Iterator[TwapEvent],
                                 timers: TimerValues): Iterator[TwapOut] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var st = if (state.exists()) state.get() else null
      sorted.foreach { e =>
        st =
          if (st == null) TwapState(e.ts_us, e.event_id, e.cents, 0L, 0L, 0L)
          else {
            val d = e.ts_us - st.last_ts
            TwapState(e.ts_us, e.event_id, e.cents,
              st.wsum + st.last_cents * d, st.dur + d, st.n + 1)
          }
      }
      state.update(st)
      Iterator.single(TwapOut(key, st.n, st.dur,
        if (st.dur > 0) st.wsum / st.dur else 0L))
    }
  }

  /** Wire [[TwapProcessor]] over a keyed event stream (RocksDB state). */
  def twapStream(events: Dataset[TwapEvent],
                 ttl: TTLConfig = TTLConfig.NONE): Dataset[TwapOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TwapProcessor(ttl),
        TimeMode.None(), OutputMode.Update())
  }

  case class UserEvent(user_id: Long, ts_us: Long)
  case class SessionState(start_us: Long, last_us: Long, n: Long)
  case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Incremental gap-based sessionization: state = the user's open session;
    * a new event more than `gapMicros` after the last closes it (emitted)
    * and opens a new one. Batch-equivalent of WindowOps.sessionize for the
    * closed sessions. */
  def sessionize(events: Dataset[UserEvent], gapMicros: Long): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state) =>
          val evs = it.toIndexedSeq.sortBy(_.ts_us)
          var closed = List.empty[ClosedSession]
          var open = state.getOption
          evs.foreach { e =>
            open = open match {
              case Some(s) if e.ts_us - s.last_us > gapMicros =>
                closed ::= ClosedSession(uid, s.start_us, s.last_us, s.n)
                Some(SessionState(e.ts_us, e.ts_us, 1))
              case Some(s) =>
                Some(s.copy(last_us = e.ts_us, n = s.n + 1))
              case None =>
                Some(SessionState(e.ts_us, e.ts_us, 1))
            }
          }
          open.foreach(state.update)
          closed.reverse.iterator
      }
  }

  case class TypedEvent(user_id: Long, ts_us: Long, event_type: String)
  case class AttribState(start_us: Long, last_us: Long, n: Long,
                         first_type: String, conv: Boolean)
  case class AttributedSession(user_id: Long, start_us: Long, end_us: Long,
                               n_events: Long, first_type: String,
                               converted: Boolean)

  /** Streaming twin of the batch first-touch attribution mart
    * (BehaviorQueries.qAttributionFirstTouch): gap sessionization that
    * carries the acquisition channel (the session's FIRST event type) and
    * the conversion flag (any 'purchase') in per-user state, emitting each
    * closed session already attributed. Aggregating the emitted sessions
    * by first_type reproduces the batch mart's channel counts for closed
    * sessions. State is O(1) per user (one open session), unbounded-stream
    * safe. */
  def attributedSessions(events: Dataset[TypedEvent],
                         gapMicros: Long): Dataset[AttributedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttribState, AttributedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state) =>
          val evs = it.toIndexedSeq.sortBy(_.ts_us)
          var closed = List.empty[AttributedSession]
          var open = state.getOption
          evs.foreach { e =>
            val isConv = e.event_type == "purchase"
            open = open match {
              case Some(s) if e.ts_us - s.last_us > gapMicros =>
                closed ::= AttributedSession(uid, s.start_us, s.last_us, s.n,
                  s.first_type, s.conv)
                Some(AttribState(e.ts_us, e.ts_us, 1, e.event_type, isConv))
              case Some(s) =>
                Some(s.copy(last_us = e.ts_us, n = s.n + 1, conv = s.conv || isConv))
              case None =>
                Some(AttribState(e.ts_us, e.ts_us, 1, e.event_type, isConv))
            }
          }
          open.foreach(state.update)
          closed.reverse.iterator
      }
  }

  case class FunnelEvent(user_id: Long, ts_us: Long, event_id: Long,
    event_type: String)
  /** −1 = step not reached. */
  case class FunnelState(t1: Long, t2: Long, t3: Long)
  case class FunnelLevel(user_id: Long, level: Long, t1_us: Long, t3_us: Long)

  /** Streaming twin of the batch strict window-funnel
    * (BehaviorQueries.qWindowFunnel): per-user state is exactly the three
    * chain timestamps (first view, first click after it, first purchase
    * after that — all within `windowUs` of the view), O(1) on an
    * unbounded stream. Events fold in (ts, event_id) order within each
    * micro-batch (the repo-wide total-order tie-break — the strict `>`
    * window guards make the final state tie-insensitive, but the fold
    * order itself stays deterministic);
    * a chain step arriving in a LATER micro-batch than its predecessor
    * advances the level then (spec-pinned). Emits the user's current
    * level on every update — downstream counts per level reproduce the
    * batch funnel. */
  class FunnelProcessor(windowUs: Long, ttl: TTLConfig)
    extends StatefulProcessor[Long, FunnelEvent, FunnelLevel] {
    @transient private var state: ValueState[FunnelState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[FunnelState]("funnel",
        org.apache.spark.sql.Encoders.product[FunnelState], ttl)
    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
                                 timers: TimerValues): Iterator[FunnelLevel] = {
      var st = if (state.exists()) state.get() else FunnelState(-1L, -1L, -1L)
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        e.event_type match {
          case "view" if st.t1 < 0 => st = st.copy(t1 = e.ts_us)
          case "click" if st.t1 >= 0 && st.t2 < 0 &&
            e.ts_us > st.t1 && e.ts_us <= st.t1 + windowUs =>
            st = st.copy(t2 = e.ts_us)
          case "purchase" if st.t2 >= 0 && st.t3 < 0 &&
            e.ts_us > st.t2 && e.ts_us <= st.t1 + windowUs =>
            st = st.copy(t3 = e.ts_us)
          case _ => ()
        }
      }
      state.update(st)
      val level = if (st.t3 >= 0) 3L else if (st.t2 >= 0) 2L
      else if (st.t1 >= 0) 1L else 0L
      Iterator.single(FunnelLevel(key, level, st.t1, st.t3))
    }
  }

  /** Wire [[FunnelProcessor]] over a keyed event stream (RocksDB state). */
  def funnelStream(events: Dataset[FunnelEvent], windowUs: Long,
                   ttl: TTLConfig = TTLConfig.NONE): Dataset[FunnelLevel] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(windowUs, ttl),
        TimeMode.None(), OutputMode.Update())
  }

  case class SSEvent(user_id: Long, ts_us: Long, event_id: Long, item: String)
  case class SSState(items: Array[String], counts: Array[Long],
    errs: Array[Long], n_seen: Long)
  case class SSOut(user_id: Long, n_seen: Long, item: String, est: Long,
    max_err: Long)

  /** Streaming SpaceSaving top-k (Metwally et al. 2005) — per-key heavy
    * hitters in O(k) state on an unbounded stream: k counters; a known
    * item increments, a new item takes over the MINIMUM counter and
    * inherits its count as the error bound. Guarantees (spec-pinned on a
    * crafted overflow stream): true ≤ est ≤ true + max_err for every
    * tracked item, and any UNtracked item's true count ≤ the minimum
    * tracked est — the bound that makes the sketch trustworthy for
    * top-k extraction. When k ≥ |distinct items| the sketch degenerates
    * to EXACT counting (max_err ≡ 0), which is what the parity battery
    * pins against the batch groupBy on the real fixture. Victim
    * selection tie-breaks (count, then item) so the fold is
    * deterministic; rows fold in the repo-wide (ts_us, event_id) order.
    * Emits the full tracked set (≤ k rows) stamped with n_seen per
    * update — the final state is the max-n_seen emission per key. */
  class SpaceSavingProcessor(k: Int, ttl: TTLConfig)
    extends StatefulProcessor[Long, SSEvent, SSOut] {
    @transient private var state: ValueState[SSState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SSState]("topk",
        org.apache.spark.sql.Encoders.product[SSState], ttl)
    override def handleInputRows(key: Long, rows: Iterator[SSEvent],
                                 timers: TimerValues): Iterator[SSOut] = {
      val st = if (state.exists()) state.get()
      else SSState(Array.empty, Array.empty, Array.empty, 0L)
      val items = scala.collection.mutable.ArrayBuffer(st.items: _*)
      val counts = scala.collection.mutable.ArrayBuffer(st.counts: _*)
      val errs = scala.collection.mutable.ArrayBuffer(st.errs: _*)
      var nSeen = st.n_seen
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        nSeen += 1
        val i = items.indexOf(e.item)
        if (i >= 0) counts(i) += 1
        else if (items.length < k) { items += e.item; counts += 1L; errs += 0L }
        else {
          var j = 0
          var t = 1
          while (t < items.length) {
            if (counts(t) < counts(j) ||
              (counts(t) == counts(j) && items(t) < items(j))) j = t
            t += 1
          }
          errs(j) = counts(j); items(j) = e.item; counts(j) += 1
        }
      }
      state.update(SSState(items.toArray, counts.toArray, errs.toArray, nSeen))
      items.indices.sortBy(items(_)).iterator
        .map(i => SSOut(key, nSeen, items(i), counts(i), errs(i)))
    }
  }

  /** Wire [[SpaceSavingProcessor]] over a keyed event stream (RocksDB
    * state store, as all transformWithState operators). */
  def spaceSavingTopK(events: Dataset[SSEvent], k: Int,
                      ttl: TTLConfig = TTLConfig.NONE): Dataset[SSOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SpaceSavingProcessor(k, ttl),
        TimeMode.None(), OutputMode.Update())
  }

  /** Batch↔stream twin registry: every streaming operator above, mapped to
    * the batch computation it must reproduce on the shared fixture (a
    * catalog query name, or a description of the inline batch recompute).
    * `StreamingParitySpec` enumerates this map with one parity assertion
    * per entry AND reflects over this object's public operator methods to
    * assert the map is complete — a new streaming twin cannot land without
    * a registry entry, and a registry entry cannot land without a parity
    * runner. Keep keys = method names. */
  val batchTwins: Map[String, String] = Map(
    "windowedEventCounts" -> "q_windowed_counts (same unified helper, batch mode)",
    "zoneActivityStream" -> "inline batch window x zone conditional counts",
    "dedupStream" -> "inline batch distinct on the dedup keys",
    "nearDupDedupBatch" -> "driver replay of the two-batch LSH band-store fold",
    "deltaDedupVerifiedBatch" -> "flat-index batch replay of the bootstrap/probe/append protocol",
    "clusterMaintainBatch" -> "driver union-find over all batches' verdict edges (min-reachable-id labels)",
    "clusterForgetBatch" -> "driver union-find recompute over surviving verdict edges (forget splits bridged components)",
    "forgetBatch" -> "driver presence check + post-removal index content vs a batch-side recompute",
    "forgetBatchLogical" -> "physical-forget equivalence: receipts and probe verdicts match forgetBatch; compaction purge converges the files",
    "ivfSearchInsertBatch" -> "in-memory batch replay of the search-then-insert protocol",
    "ivfSearchResolved" -> "pinned-generation read-only probe: hits frozen across a refresh, forget filter intact via the generation-local snapshot",
    "forgetVectorsBatch" -> "post-forget hits equal a never-inserted twin index; receipts classify indexed/absent; re-ingest re-admits",
    "snapshotMaintainBatch" -> "inline batch WindowOps.latestPerKey over all updates",
    "streamIntervalJoin" -> "inline batch join with the same interval predicate",
    "sessionWindowCounts" -> "q_session_window_sql",
    "streamStaticEnrich" -> "inline batch broadcast left join",
    "qualityFilterStream" -> "inline batch quality_linear_score expression",
    "runningTotals" -> "inline batch groupBy count/sum",
    "ewmaStream" -> "driver fold of the binary-decay recurrence in (ts, event_id) order",
    "kmvDistinctStream" -> "driver KMV of the distinct hash set (k-th smallest estimator)",
    "twapStream" -> "q_twap",
    "sessionize" -> "q_sessionize",
    "attributedSessions" -> "inline batch WindowOps.sessionize + first-touch/conversion agg",
    "funnelStream" -> "q_window_funnel",
    "spaceSavingTopK" -> "inline batch (user, item) counts (k >= |items| => sketch exact)")
}
