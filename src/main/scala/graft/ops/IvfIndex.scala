package graft.ops

import graft.ops.Checkpoints._
import graft.ops.ShardedStore.{fs, hp}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The persisted, cell-partitioned IVF vector index: one object owns its
  * layout, its manifest and every mutation of it. The streaming twins in
  * `StreamingOps` (search-then-insert, forget, pinned search) compose the
  * operations here per micro-batch.
  *
  * ## Generation-versioned layout
  *
  * All index state lives under `<index>/g=<N>/{centroids,postings}` with a
  * single `_gen` pointer file naming the CURRENT generation. Ordinary
  * batches and compaction mutate the current generation in place (their
  * own crash protocols cover that); [[refreshCentroids]] — which must
  * replace BOTH tables consistently — writes a complete NEW generation
  * beside the live one and atomically repoints, so a reader never observes
  * postings partitioned by one centroid set while the centroids table
  * holds another, and a reader that resolved the old generation keeps
  * reading it untouched (zero-downtime refresh: the previous generation
  * survives until the NEXT refresh prunes it).
  *
  * Crash states and recovery ([[recover]], run at every open):
  *  - gen dir above the pointer WITHOUT its `_GEN_OK` sentinel → an
  *    unfinished refresh: deleted; the live generation is untouched.
  *  - gen dir above the pointer WITH `_GEN_OK` → a refresh that died
  *    between sentinel and repoint: rolled FORWARD (pointer advanced).
  *  - pointer missing but complete generations exist (a crash inside
  *    the pointer's delete+rename rewrite) → repoint the max complete.
  *  - pointer missing, `g=0` holds a complete centroids table → a
  *    bootstrap that died before its pointer write: finished.
  *  - a LEGACY flat layout (top-level centroids/postings, no pointer)
  *    is adopted into g=0, idempotently per table.
  *  - anything else partial is deleted; the index bootstraps fresh. */
object IvfIndex {

  private val postingsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, centroid_id BIGINT, batch_id BIGINT")

  /** The directory of generation `gen`. */
  def generationDir(indexPath: String, gen: Long): String = s"$indexPath/g=$gen"

  /** The `_gen` pointer's name. It is rewritten by
    * [[ShardedStore.writePointer]] (staged temp + delete+rename), whose
    * window between delete and rename leaves NO pointer — recoverable,
    * because [[recover]] repoints the max complete generation when the
    * pointer is missing. */
  private val Pointer = "_gen"

  private def pointerFile(indexPath: String) = s"$indexPath/$Pointer"

  /** A generation's centroids: (c_id, c_vec). */
  def centroids(spark: SparkSession, genDir: String): DataFrame =
    spark.read.parquet(s"$genDir/centroids")

  /** A generation's postings: (vec_id, embedding, centroid_id, batch_id). */
  def postings(spark: SparkSession, genDir: String): DataFrame =
    spark.read.schema(postingsSchema).parquet(s"$genDir/postings")

  /** Whether a generation holds any postings yet. */
  def hasPostings(spark: SparkSession, genDir: String): Boolean =
    fs(spark, genDir).exists(hp(s"$genDir/postings"))

  /** The current generation number, or None when the index has never
    * completed a bootstrap (reads the `_gen` pointer only — run
    * [[recover]] first if a prior writer may have died). */
  def currentGeneration(spark: SparkSession, indexPath: String): Option[Long] =
    if (!fs(spark, indexPath).exists(hp(pointerFile(indexPath)))) None
    else Some(ShardedStore.readTextFile(spark, pointerFile(indexPath)).trim.toLong)

  /** Resolves the index to its current generation directory, running
    * recovery first — the one call every reader makes at open. The
    * returned directory holds `centroids/` and `postings/` and is NEVER
    * mutated by a later [[refreshCentroids]] (refresh writes a new
    * generation and repoints), so a probe that resolved before a
    * concurrent refresh keeps reading exactly one consistent
    * (centroids, postings) pair. Throws if the index was never
    * bootstrapped. */
  def resolve(spark: SparkSession, indexPath: String): String = {
    recover(spark, indexPath)
    val g = currentGeneration(spark, indexPath).getOrElse(
      throw new IllegalStateException(
        s"IVF index at $indexPath has no generation pointer — never bootstrapped"))
    generationDir(indexPath, g)
  }

  /** Rolls the whole index to a consistent state after a crash in ANY op:
    * the generation layout (see the crash matrix in the object comment;
    * legacy flat layouts are adopted), then any in-generation compaction
    * staging (completed stagings roll forward, incomplete ones are
    * discarded). Idempotent; no-op on a clean index. */
  def recover(spark: SparkSession, indexPath: String): Unit = {
    val f = fs(spark, indexPath)
    if (!f.exists(hp(indexPath))) return
    val g0 = generationDir(indexPath, 0L)
    if (currentGeneration(spark, indexPath).isEmpty) {
      // legacy flat layout → g=0, idempotent per table (a crash between
      // the two renames resumes here)
      for (t <- Seq("centroids", "postings"))
        if (f.exists(hp(s"$indexPath/$t")) && !f.exists(hp(s"$g0/$t"))) {
          f.mkdirs(hp(g0))
          f.rename(hp(s"$indexPath/$t"), hp(s"$g0/$t")): Unit
        }
    }
    def gens: Seq[Long] = f.listStatus(hp(indexPath)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("g="))
      .map(_.stripPrefix("g=").toLong)
    def isComplete(g: Long): Boolean = {
      val gd = generationDir(indexPath, g)
      f.exists(hp(s"$gd/_GEN_OK")) ||
        // bootstrap/adoption completeness: the centroids table finished
        // (its parquet _SUCCESS exists) — finish the sentinel here
        (g == 0L && f.exists(hp(s"$gd/centroids/_SUCCESS")) &&
          { ShardedStore.touch(f, s"$gd/_GEN_OK"); true })
    }
    currentGeneration(spark, indexPath) match {
      case None =>
        val complete = gens.filter(isComplete)
        if (complete.nonEmpty)
          ShardedStore.writePointer(spark, indexPath, Pointer, complete.max.toString)
        // only incomplete gens are deleted here — pruning complete older
        // generations (the zero-downtime lookback) stays refresh's job
        gens.filterNot(complete.contains)
          .foreach(g => f.delete(hp(generationDir(indexPath, g)), true): Unit)
      case Some(cur) =>
        val above = gens.filter(_ > cur)
        val complete = above.filter(isComplete)
        if (complete.nonEmpty)
          ShardedStore.writePointer(spark, indexPath, Pointer, complete.max.toString)
        above.filterNot(complete.maxOption.contains)
          .foreach(g => f.delete(hp(generationDir(indexPath, g)), true): Unit)
    }
    f.delete(hp(s"$indexPath/._gen_tmp"), false)
    currentGeneration(spark, indexPath).foreach(g =>
      recoverCompactions(spark, generationDir(indexPath, g)))
  }

  // ----- the dimension manifest ---------------------------------------------
  //
  // The vector DIMENSION is a CORPUS property, recorded once in
  // `_manifest.json` when the first non-empty batch arrives and validated
  // against every later batch — not an engine constant (it was a
  // hardcoded 64 through r17). The stakes: the dot kernel folds over
  // min(len_a, len_b), so mixed-dimension input would silently TRUNCATE
  // the product instead of erroring — the manifest turns that into a loud
  // refusal at the writer. Pre-manifest (legacy) indexes derive dim
  // read-only from the stored centroids and are adopted (manifest
  // written) by the next insert batch.

  /** Manifest format version, stamped alongside dim: any future layout
    * change (posting schema, generation naming, snapshot format) bumps
    * it, and this build refuses a foreign fmt loudly instead of
    * misreading the layout — the same gate the cluster store's fmt field
    * provides. A manifest WITHOUT the field reads as fmt 1 (the field
    * landed one commit after the manifest itself). */
  private val IvfManifestFmt = 1L

  /** The index's recorded vector dimension: the manifest when present,
    * else derived from the current generation's centroids (legacy
    * index — read-only, so pure readers never write). None when
    * underivable (no manifest and an empty or never-bootstrapped
    * index) — dimension validation is skipped then, matching the
    * empty-input contract (every search is empty anyway). */
  def dim(spark: SparkSession, indexPath: String): Option[Int] =
    if (ShardedStore.hasManifest(spark, indexPath))
      Some(ShardedStore.readManifest(spark, indexPath, "IVF index",
        Some(ShardedStore.Fmt(IvfManifestFmt, Some(1L))))("dim").toInt)
    else currentGeneration(spark, indexPath).flatMap { g =>
      val gd = generationDir(indexPath, g)
      if (!fs(spark, indexPath).exists(hp(s"$gd/centroids"))) None
      else centroids(spark, gd).select(size(col("c_vec")).as("d"))
        .head(1).headOption.map(_.getInt(0))
    }

  /** One aggregate job over `df`'s embedding column: its uniform
    * dimension, None when empty. Loud on mixed-length rows — the dot
    * kernel would silently truncate them. */
  private def uniformDim(df: DataFrame, what: String): Option[Int] = {
    val mm = df.agg(min(size(col("embedding"))).as("lo"),
      max(size(col("embedding"))).as("hi")).head
    if (mm.isNullAt(0)) None
    else {
      require(mm.getInt(0) == mm.getInt(1),
        s"$what: mixed embedding dimensions ${mm.getInt(0)}..${mm.getInt(1)}" +
          " in one input — the cosine kernel folds over the shorter row," +
          " which would silently truncate; fix the upstream schema")
      Some(mm.getInt(0))
    }
  }

  /** The dimension `queries` (vec_id, embedding) are searched with: the
    * index's recorded dim, 0 when unknown. Throws when the queries'
    * uniform dimension disagrees with it. */
  def queryDim(queries: DataFrame, indexPath: String, what: String): Int = {
    val d = dim(queries.sparkSession, indexPath).getOrElse(0)
    uniformDim(queries, what).foreach(qd =>
      if (d > 0) require(qd == d,
        s"$what: query embedding dim $qd does not match the" +
          s" index's recorded dim=$d at $indexPath"))
    d
  }

  /** Opens the index for an insert batch of (vec_id, embedding) rows and
    * returns the current generation dir and the index dimension:
    *  1. recovery (a refresh or compaction that died mid-protocol leaves
    *     staging/generation litter; no-op when clean — one listStatus);
    *  2. the dimension contract: the batch's uniform dim must equal the
    *     recorded one; the first non-empty batch records it, and a legacy
    *     index whose dim was derived from centroids is adopted here, on
    *     the writer path — a mismatched or mixed-dim batch fails loudly
    *     BEFORE any mutation;
    *  3. the first batch bootstraps generation 0 with centroids from the
    *     stride rule over that batch (deterministic, mirrors the batch
    *     queries). */
  def openForInsert(batch: DataFrame, indexPath: String, what: String,
                    centStride: Long, centCap: Long): (String, Int) = {
    val spark = batch.sparkSession
    recover(spark, indexPath)
    val storedDim = dim(spark, indexPath)
    val batchDim = uniformDim(batch, what)
    batchDim.foreach { bd =>
      storedDim.foreach(d => require(bd == d,
        s"$what: batch embedding dim $bd does not match " +
          s"the index's recorded dim=$d at $indexPath — one index holds " +
          "one corpus dimension; use a separate index path"))
      // record (first non-empty batch) or adopt (legacy index whose dim
      // was derived from centroids): either way the manifest exists
      // after the first write that can know the dimension
      if (!ShardedStore.hasManifest(spark, indexPath))
        ShardedStore.writeManifest(spark, indexPath, "fmt" -> IvfManifestFmt,
          "dim" -> storedDim.getOrElse(bd).toLong)
    }
    if (currentGeneration(spark, indexPath).isEmpty) {
      val g0 = generationDir(indexPath, 0L)
      settled(batch
          .where(col("vec_id") % centStride === 0 && col("vec_id") < centCap)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))) { strided =>
        // a NON-EMPTY bootstrap batch that misses the stride rule entirely
        // would otherwise write an empty centroid set and permanently dead
        // index (every later search and insert silently empty) — fall back
        // to the batch's lowest-id vector as the single seed centroid
        val cents0 = if (strided.isEmpty)
          batch.orderBy("vec_id").limit(1)
            .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
        else strided
        cents0.write.mode("overwrite").parquet(s"$g0/centroids")
      }
      ShardedStore.touch(fs(spark, indexPath), s"$g0/_GEN_OK")
      ShardedStore.writePointer(spark, indexPath, Pointer, "0")
    }
    (generationDir(indexPath, currentGeneration(spark, indexPath).get),
      storedDim.orElse(batchDim).getOrElse(0))
  }

  // ----- postings ---------------------------------------------------------------

  /** Writer for postings dirs: every file carries a parquet BLOOM FILTER
    * on vec_id (adaptive-sized, parquet ≥1.14), so presence probes — the
    * forget receipt audit and the re-ingest purge's touched-dir lookup —
    * prune at ROW-GROUP granularity when the probe pushes its id set down
    * (see [[presenceProbe]]) instead of scanning the generation's whole
    * vec_id column. Bloom bytes amortize to well under 1% of a row-group's
    * embedding payload; min/max stats alone cannot prune here because a
    * file's vec_ids are scattered (cells group by SIMILARITY, not id). */
  private def postingsWrite(df: DataFrame) = df.write
    .option("parquet.bloom.filter.enabled#vec_id", "true")
    .option("parquet.bloom.filter.adaptive.enabled", "true")
    .option("parquet.bloom.filter.expected.ndv#vec_id", "200000")

  /** How many probe ids the presence paths push down as per-value parquet
    * predicates (bloom-prunable). Above this, the probe falls back to a
    * broadcast semi-join over the (column-pruned) vec_id scan — correct at
    * any size, corpus-column-sized instead of touched-row-group-sized.
    * Must stay ≤ spark.sql.parquet.pushdown.inFilterThreshold
    * ([[graft.Sessions.defaults]]), past which Spark degrades the
    * pushdown to a min/max range that scattered ids cannot prune with. */
  private[graft] val PresencePushdownLimit = 1000

  /** Rows of `posts` whose vec_id is in the probe set — the shared
    * presence probe: id-list pushdown (footer + bloom + matched row
    * groups) when the caller collected the set, broadcast semi-join
    * otherwise. */
  private def presenceProbe(posts: DataFrame, idRows: Option[Seq[Long]],
                            ids: DataFrame): DataFrame =
    idRows match {
      case Some(rows) => posts.where(col("vec_id").isin(rows: _*))
      case None => posts.join(broadcast(ids), Seq("vec_id"), "left_semi")
    }

  /** The probe set as driver rows when it is small enough to push down —
    * `ids` must be settled (both callers settle them first). */
  private def probeRows(ids: DataFrame): Option[Seq[Long]] =
    if (ids.count() <= PresencePushdownLimit)
      Some(ids.collect().map(_.getLong(0)).toSeq)
    else None

  /** Each query's `nProbe` nearest cells by centroid cosine:
    * (q_id, q_vec, centroid_id, rn) from `queries` (vec_id, embedding). */
  def rankCells(queries: DataFrame, genDir: String, nProbe: Int, dim: Int): DataFrame = {
    val wQ = Window.partitionBy("q_id").orderBy(col("cs").desc, col("c_id").asc)
    queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .crossJoin(broadcast(centroids(queries.sparkSession, genDir)))
      .withColumn("cs", VectorOps.cosine(col("q_vec"), col("c_vec"), dim))
      .withColumn("rn", row_number().over(wQ))
      .where(col("rn") <= math.max(nProbe, 1))
      .select(col("q_id"), col("q_vec"), col("c_id").as("centroid_id"), col("rn"))
  }

  /** Exact-cosine top-k over the postings of the probed cells of `ranked`
    * ([[rankCells]], persisted by the caller): (q_id, c_id, rank, cos_e6),
    * SETTLED. Only the probed cells' files are read (a `centroid_id IN`
    * partition filter), forgotten vectors never surface ([[antiVecTombs]]),
    * and `exclude` skips one `batch_id` partition — a REPLAYED batch must
    * not see its own failed attempt's rows, or batch-internal pairs would
    * leak into its hits (self-pairs alone are not the issue). The
    * generation must hold postings ([[hasPostings]]). */
  def search(ranked: DataFrame, indexPath: String, genDir: String, dim: Int,
             topK: Int, exclude: Option[Long]): DataFrame = {
    val cells = ranked.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val inCells = col("centroid_id").isin(cells: _*)
    val wR = Window.partitionBy("q_id").orderBy(col("cosine_sim").desc, col("vec_id").asc)
    antiVecTombs(indexPath, genDir, postings(ranked.sparkSession, genDir)
        .where(exclude.fold(inCells)(b => col("batch_id") =!= b && inCells)))
      .join(broadcast(ranked), Seq("centroid_id"))
      .where(col("q_id") =!= col("vec_id")) // belt-and-braces vs own rows
      .withColumn("cosine_sim", VectorOps.cosine(col("q_vec"), col("embedding"), dim))
      .withColumn("rank", row_number().over(wR)).where(col("rank") <= topK)
      .select(col("q_id"), col("vec_id").as("c_id"),
        col("rank").cast("long").as("rank"),
        round(col("cosine_sim") * 1000000).cast("long").as("cos_e6"))
      // an eager cut, not persist+count: the hits must be SETTLED before
      // any later mutation of the postings — a cache entry can be
      // recomputed against the mutated directory, silently turning
      // search-before-insert into search-after-insert; the checkpoint
      // truncates lineage so re-evaluation is impossible
      .cutLineage()
  }

  /** The empty hit frame of [[search]]. */
  def noHits(spark: SparkSession): DataFrame =
    ShardedStore.empty(spark, "q_id BIGINT, c_id BIGINT, rank BIGINT, cos_e6 BIGINT")

  /** Inserts each ranked query's nearest cell (rn = 1) into the postings
    * as `batch_id`. Exactly-once: postings carry a batch_id partition
    * column and the write is a DYNAMIC overwrite, so a replayed batch
    * replaces exactly its own (cell, batch) directories instead of
    * appending duplicates — idempotent under foreachBatch's replay
    * contract. */
  def insert(ranked: DataFrame, genDir: String, batchId: Long): Unit =
    postingsWrite(ranked.where(col("rn") === 1)
        .select(col("centroid_id"), col("q_id").as("vec_id"),
          col("q_vec").as("embedding"), lit(batchId).as("batch_id"))
        .repartition(col("centroid_id")))
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy("centroid_id", "batch_id")
      .parquet(s"$genDir/postings")

  // ----- tombstones ---------------------------------------------------------------

  /** The index's deletion vector — INDEX-level, not per-generation
    * (vec_ids persist across a refresh; the refresh is also where the
    * debt is settled physically). Same idiom as the signature index's
    * tombstones ([[ShardedStore.DeletionVector]]). */
  private def vecTombs(indexPath: String) =
    ShardedStore.DeletionVector(s"$indexPath/tombstones", "vec_id")

  /** The PER-GENERATION tombstone snapshot: [[refreshCentroids]] settles
    * the index-level deletion vector physically in the NEW generation and
    * then drops it — but the generation it supersedes survives as the
    * in-flight readers' lookback, and a reader still pinned there must
    * keep filtering the forgotten ids (without the snapshot, the drop
    * re-exposed retracted vectors to exactly those readers — a
    * right-to-be-forgotten leak). The refresh copies the vector INTO the
    * superseded generation dir before sealing its successor, so every
    * resolvable (centroids, postings, tombstones) triple is
    * self-consistent; the snapshot is pruned with its generation.
    * A snapshot in the CURRENT generation can only be litter from a
    * refresh that died before sealing. It is TOLERATED by readers
    * (snapshot ⊆ live vector, so the union filter equals the live
    * filter) and cleared ONLY by the two serial-writer ops that can
    * invalidate it — the refresh retry (rewrites it) and the re-ingest
    * purge (whose tombstone clear is the one mutation a stale copy
    * cannot survive). [[recover]] never touches it: readers run
    * recovery concurrently with a live refresh, and a reader-side
    * delete would race the writer's protocol mid-flight
    * ([[clearSnapshotLitter]]; GenTombstoneSnapshotSpec pins this). */
  private def genTombSnapshot(genDir: String) =
    ShardedStore.DeletionVector(s"$genDir/tombstones", "vec_id")

  /** Anti-join `df` against every tombstone set a reader of `genDir` must
    * respect: the generation-local snapshot (non-current generations;
    * frozen at supersession) plus the index-level live vector (forgets
    * since — retraction applies to ALL readers immediately). Each side is
    * plan-neutral when absent. */
  private def antiVecTombs(indexPath: String, genDir: String,
                           df: DataFrame): DataFrame = {
    val max = SignatureIndex.DefaultTombstoneBroadcastBytes
    genTombSnapshot(genDir).anti(vecTombs(indexPath).anti(df, max), max)
  }

  /** Deletes snapshot litter a crashed refresh left in the CURRENT
    * generation (died after copying, before sealing its successor).
    * Harmless while it sits there (⊆ the live vector, and anti-joins are
    * idempotent over the union) — it diverges only once a mutation
    * CLEARS a tombstone the stale copy still lists, so exactly the two
    * serial-writer ops that can do that call this first: the refresh
    * retry (rewrites the snapshot) and the re-ingest purge. NOT done in
    * [[recover]]: readers run recovery concurrently with a live refresh
    * and would delete the snapshot mid-protocol. */
  private def clearSnapshotLitter(spark: SparkSession, genDir: String): Unit = {
    val f = fs(spark, genDir)
    f.delete(hp(s"$genDir/.tombstones_tmp"), true)
    f.delete(hp(s"$genDir/tombstones"), true): Unit
  }

  /** Vec ids from settled `ids` currently MATCHABLE: present in the
    * current generation's postings and not tombstoned. The audit pushes
    * the id list into the parquet scan, where per-file BLOOM FILTERS on
    * vec_id ([[postingsWrite]]) skip every row group holding none of them:
    * reads are footer/bloom-metadata-sized plus the matched row groups,
    * not corpus-column-sized (measured in vector_forget_scaling.json;
    * sets past [[PresencePushdownLimit]] fall back to the column-pruned
    * semi-join scan). */
  def present(ids: DataFrame, indexPath: String): DataFrame = {
    val spark = ids.sparkSession
    currentGeneration(spark, indexPath).map(g => generationDir(indexPath, g))
      .filter(hasPostings(spark, _)) match {
      case Some(gd) => antiVecTombs(indexPath, gd,
          presenceProbe(postings(spark, gd).select("vec_id"), probeRows(ids), ids))
        .distinct()
      case None => ids.where(lit(false))
    }
  }

  /** LOGICAL forget: append `ids` (vec_id) to the index's deletion vector
    * — O(|ids|) write, corpus-independent; every later search anti-joins
    * it. Physical purge happens at the next [[refreshCentroids]] (which
    * rewrites every posting anyway — the purge is FREE there and the table
    * is dropped after the repoint) and incrementally at [[compact]] (the
    * merged horizon is written tombstone-free; the table survives because
    * rows above the horizon may remain). Idempotent under replay. */
  def tombstone(ids: DataFrame, indexPath: String): Unit = vecTombs(indexPath).append(ids)

  /** RE-INGEST of tombstoned vec ids (forgotten, purge pending) among
    * `batchIds`: purges their stale posting rows from `genDir`, then
    * clears their tombstones — otherwise the new row would be invisible
    * until the next refresh and the old one would resurface beside it
    * afterwards (the mirror of the signature index's append-path fix;
    * crash between the two steps leaves the id purged AND tombstoned —
    * consistent, replay converges). No-op without a deletion vector. */
  def readmit(batchIds: DataFrame, indexPath: String, genDir: String): Unit = {
    val spark = batchIds.sparkSession
    if (vecTombs(indexPath).exists(spark))
      settled(vecTombs(indexPath).ids(spark)
          .join(broadcast(batchIds), Seq("vec_id"), "left_semi")
          .distinct()) { reIngest =>
        if (!reIngest.isEmpty) {
          // the tombstone clear below is the one mutation a stale
          // current-generation snapshot cannot survive (it would keep
          // filtering the re-admitted id) — clear crash litter first
          clearSnapshotLitter(spark, genDir)
          purgeVectors(spark, genDir, reIngest)
          vecTombs(indexPath).remove(reIngest, SignatureIndex.DefaultTombstoneBroadcastBytes)
        }
      }
  }

  /** Physically removes `ids`' posting rows from one generation — the
    * re-ingest path's purge ([[readmit]]). Touched (cell, batch) dirs are
    * found with a vec_id-column scan (re-ingest-sized output), their kept
    * rows are SETTLED, rewritten via dynamic overwrite, and emptied dirs
    * retired; crash anywhere leaves the ids still tombstoned (the caller
    * removes tombstones LAST), so a retry converges. */
  private def purgeVectors(spark: SparkSession, genDir: String, ids: DataFrame): Unit = {
    if (!hasPostings(spark, genDir)) return
    val posts = postings(spark, genDir)
    val touched = presenceProbe(posts, probeRows(ids), ids)
      .select("centroid_id", "batch_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (touched.isEmpty) return
    // static partition pruning to the touched (cell × batch) RECTANGLE —
    // two isin filters stay linear in distinct values — then an exact
    // broadcast semi-join on the pair (an OR-chain of per-dir predicates
    // grows the expression tree linearly in touched dirs and risks
    // analyzer/codegen blowup on a large re-ingest batch)
    import spark.implicits._
    val touchedDf = touched.toSeq.toDF("centroid_id", "batch_id")
    // settled BEFORE the overwrite mutates its source
    settled(posts
        .where(col("centroid_id").isin(touched.map(_._1).distinct.toSeq: _*) &&
          col("batch_id").isin(touched.map(_._2).distinct.toSeq: _*))
        .join(broadcast(touchedDf), Seq("centroid_id", "batch_id"), "left_semi")
        .join(broadcast(ids), Seq("vec_id"), "left_anti")
        .select("centroid_id", "vec_id", "embedding", "batch_id")) { kept =>
      postingsWrite(kept.repartition(col("centroid_id")))
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("centroid_id", "batch_id")
        .parquet(s"$genDir/postings")
      // a touched dir whose kept content is EMPTY was not rewritten by the
      // dynamic overwrite — retire it explicitly
      val keptDirs = kept.select("centroid_id", "batch_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val f = fs(spark, genDir)
      touched.filterNot(keptDirs).foreach { case (c, b) =>
        f.delete(hp(s"$genDir/postings/centroid_id=$c/batch_id=$b"), true): Unit }
    }
  }

  // ----- compaction ---------------------------------------------------------------

  /** Compacts the postings: every micro-batch adds one file per touched
    * (cell, batch) directory, and probe cost degrades with file count.
    * All batch partitions at or below `upToBatchId` are merged into a
    * single `batch_id=upToBatchId` partition per cell — SAFE only for
    * batches at or below the streaming checkpoint's replay horizon (a
    * replay of a compacted batch would double its rows; batches above the
    * horizon keep their own partitions precisely so replays stay
    * idempotent).
    *
    * CRASH-SAFE two-phase rewrite (the earlier delete-then-append lost the
    * horizon if the process died between the two): phase 1 stages the
    * full compacted content under a dot-prefixed dir readers ignore —
    * reads run against untouched live dirs, so nothing depends on cache or
    * lineage; phase 2 swaps per cell, and [[recover]] rolls a mid-swap
    * crash forward (or discards an incomplete staging). Operates on the
    * CURRENT generation's postings (a compaction never spans a refresh). */
  def compact(spark: SparkSession, indexPath: String, upToBatchId: Long): Unit = {
    recover(spark, indexPath)
    currentGeneration(spark, indexPath).foreach { g =>
      val gd = generationDir(indexPath, g)
      if (stageCompactedPostings(spark, gd, upToBatchId))
        swapCompactedPostings(spark, gd, upToBatchId)
    }
  }

  /** Phase 1 of [[compact]]: stage the merged horizon content under the
    * GENERATION dir. Returns false (staging nothing) when the horizon is
    * already one batch dir per cell. */
  private[graft] def stageCompactedPostings(spark: SparkSession, genDir: String,
                                            upToBatchId: Long): Boolean = {
    val f = fs(spark, genDir)
    val postingsPath = hp(s"$genDir/postings")
    if (!f.exists(postingsPath)) return false
    val batchDirs = f.listStatus(postingsPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
      .flatMap(c => f.listStatus(c.getPath).toSeq
        .filter(b => b.isDirectory && b.getPath.getName.startsWith("batch_id=") &&
          b.getPath.getName.stripPrefix("batch_id=").toLong <= upToBatchId)
        .map(_.getPath))
    // one batch dir per cell at the horizon is already compact
    if (batchDirs.size <= batchDirs.map(_.getParent.getName).distinct.size) return false
    // the merged horizon is written TOMBSTONE-FREE (incremental purge,
    // free inside a rewrite that happens anyway); the deletion vector
    // itself survives — rows ABOVE the horizon may still carry
    // tombstoned ids, and only the refresh rewrites everything
    val indexPath = hp(genDir).getParent.toString // <index> above g=N
    postingsWrite(antiVecTombs(indexPath, genDir,
          postings(spark, genDir).where(col("batch_id") <= upToBatchId))
        .select(col("centroid_id"), col("vec_id"), col("embedding"))
        .repartition(col("centroid_id")))
      .mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$genDir/postings/.compact_upto_$upToBatchId")
    true
  }

  /** Phase 2 / recovery arm of [[compact]]: for every staged cell, drop
    * its merged batch dirs and rename the staged content in as
    * `batch_id=upToBatchId`. Idempotent across every crash point — a cell
    * whose staged dir is gone was fully swapped (the rename is that cell's
    * last step), so re-running rolls the compaction forward; an INCOMPLETE
    * staging (no parquet `_SUCCESS`) is discarded with the live dirs
    * untouched. Takes the GENERATION dir. */
  private[graft] def swapCompactedPostings(spark: SparkSession, genDir: String,
                                           upToBatchId: Long): Unit = {
    val f = fs(spark, genDir)
    val staging = hp(s"$genDir/postings/.compact_upto_$upToBatchId")
    if (!f.exists(staging)) return
    if (!f.exists(hp(s"$staging/_SUCCESS"))) { f.delete(staging, true); return }
    f.listStatus(staging).toSeq
      .filter(_.getPath.getName.startsWith("centroid_id="))
      .foreach { cellDir =>
        val liveCell = hp(s"$genDir/postings/${cellDir.getPath.getName}")
        if (f.exists(liveCell))
          f.listStatus(liveCell).toSeq
            .filter(b => b.isDirectory && b.getPath.getName.startsWith("batch_id=") &&
              b.getPath.getName.stripPrefix("batch_id=").toLong <= upToBatchId)
            .foreach(b => f.delete(b.getPath, true): Unit)
        else f.mkdirs(liveCell): Unit
        f.rename(cellDir.getPath, hp(s"$liveCell/batch_id=$upToBatchId")): Unit
      }
    f.delete(staging, true): Unit
  }

  /** Compaction-staging recovery within one generation dir. */
  private def recoverCompactions(spark: SparkSession, genDir: String): Unit = {
    val f = fs(spark, genDir)
    val postingsPath = hp(s"$genDir/postings")
    if (!f.exists(postingsPath)) return
    f.listStatus(postingsPath).toSeq
      .filter(_.getPath.getName.startsWith(".compact_upto_"))
      .foreach(d => swapCompactedPostings(spark, genDir,
        d.getPath.getName.stripPrefix(".compact_upto_").toLong))
  }

  // ----- centroid refresh ---------------------------------------------------------

  /** Re-clusters the index's centroids from its CURRENT postings and
    * rewrites every posting into its new cell — the maintenance op that
    * closes the frozen-bootstrap gap: the bootstrap centroids are a
    * strided draw over the FIRST batch, frozen for the index's lifetime,
    * so as inserted batches drift, cells grow unbalanced and recall at
    * fixed nProbe decays (q_ann_recall_evolution is the gate that
    * measures it; this op is what an operator runs when that gate dips).
    *
    * Clustering is KMeansOps.fitExact — integer Lloyd's, deterministic
    * run-to-run — with k = the current centroid count, over L2-NORMALIZED
    * vectors, and the stored centroids are normalized too: the probe
    * ranks cells by COSINE, and for unit vectors L2-argmin ≡
    * cosine-argmax, so assignment and probe agree on what "nearest cell"
    * means (clustering raw vectors measurably REGRESSED recall on the
    * fixture — metric mismatch put true neighbors in cells the probe
    * doesn't visit). New centroid ids are 0..k-1. `batch_id` partitions
    * are PRESERVED so the streaming replay horizon survives a refresh (a
    * replayed batch still dynamically overwrites exactly its own
    * (cell, batch) dirs).
    *
    * ZERO-DOWNTIME via the generation layout (see the object comment):
    * the reassigned postings and new centroids are written as a complete
    * NEW generation, sealed with `_GEN_OK`, and the `_gen` pointer is
    * repointed — so a reader that resolved the index before (or during)
    * the refresh keeps reading its own generation's consistent
    * (centroids, postings) pair, and a reader resolving after sees only
    * the refreshed pair. A crash anywhere before the repoint leaves the
    * live generation untouched ([[recover]] discards the unsealed new
    * generation, or rolls a sealed one forward). Generations older than
    * the predecessor are pruned here — the predecessor itself survives
    * until the NEXT refresh, giving in-flight readers their lookback
    * window. */
  def refreshCentroids(spark: SparkSession, indexPath: String, iters: Int = 3): Unit = {
    val f = fs(spark, indexPath)
    recover(spark, indexPath)
    val curOpt = currentGeneration(spark, indexPath)
    if (curOpt.isEmpty) return
    val cur = curOpt.get
    val genDir = generationDir(indexPath, cur)
    if (!hasPostings(spark, genDir)) return
    // a crashed predecessor's snapshot litter would be frozen into this
    // refresh's superseded-generation state — rewrite from the live vector
    clearSnapshotLitter(spark, genDir)
    // persisted: every Lloyd iteration scans the postings (plus the final
    // reassignment write) — one parquet read instead of iters + 1.
    // Tombstoned vectors are excluded from BOTH the fit and the new
    // generation (retracted content must not shape centroids): the
    // refresh is the vector index's free physical purge, and the
    // deletion vector is dropped after the repoint below.
    val posts = antiVecTombs(indexPath, genDir, postings(spark, genDir)).persist()
    val k = centroids(spark, genDir).count().toInt
    val unit = { // L2-normalize in-row (codegen dot; no shuffle)
      val nrm = sqrt(graft.expressions.F.dot(col("embedding"), col("embedding")))
      transform(col("embedding"), x => (x / nrm).cast("float"))
    }
    val cq = KMeansOps.fitExact(
      posts.select(col("vec_id"), unit.as("embedding")), k, iters)
    if (cq.isEmpty) { posts.unpersist(); return }
    // normalize the fitted centroids too (a mean of unit vectors is not
    // unit), then re-quantize so the assignment below is L2-argmin over
    // unit vectors on both sides ≡ cosine-argmax
    val cUnit = cq.map { c =>
      val n = math.sqrt(c.map(x => (x / 1e6) * (x / 1e6)).sum).max(1e-12)
      c.map(x => x / 1e6 / n)
    }
    val cqUnit = cUnit.map(_.map(x => math.round(x * 1e6)))
    import spark.implicits._
    val newCents = cUnit.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat).toSeq) }
      .toDF("c_id", "c_vec")
    val next = generationDir(indexPath, cur + 1)
    // recover above removed any unsealed leftover; belt-and-braces
    f.delete(hp(next), true)
    postingsWrite(posts
        .withColumn("centroid_id", KMeansOps.assignmentExact(
          KMeansOps.quantize(unit, 1000000L), cqUnit).cast("long"))
        .select("centroid_id", "vec_id", "embedding", "batch_id")
        .repartition(col("centroid_id")))
      .mode("overwrite").partitionBy("centroid_id", "batch_id")
      .parquet(s"$next/postings")
    posts.unpersist()
    newCents.write.mode("overwrite").parquet(s"$next/centroids")
    // snapshot the deletion vector INTO the generation being superseded,
    // UNDER the successor's seal (seal durable ⇒ snapshot present): a
    // reader still pinned to `cur` keeps its forget filter after the
    // index-level vector drops below (see [[genTombSnapshot]]). Staged
    // via temp dir + rename so a concurrent pinned reader never sees a
    // partial snapshot. If the refresh dies before the seal, the copy is
    // litter in the still-current generation: harmless to readers
    // (snapshot ⊆ live vector) and cleared only by the refresh retry
    // (clearSnapshotLitter above) or a re-ingest purge — NEVER by
    // recovery, which readers run concurrently with live refreshes.
    if (vecTombs(indexPath).exists(spark)) {
      val tmp = s"$genDir/.tombstones_tmp"
      f.delete(hp(tmp), true)
      vecTombs(indexPath).ids(spark).distinct()
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      f.delete(hp(s"$genDir/tombstones"), true)
      f.rename(hp(tmp), hp(s"$genDir/tombstones")): Unit
    }
    ShardedStore.touch(f, s"$next/_GEN_OK") // sealed: recovery now rolls FORWARD
    ShardedStore.writePointer(spark, indexPath, Pointer, (cur + 1).toString)
    // the new generation is tombstone-free: the debt is settled, drop the
    // vector (a crash before this leaves purged rows + live tombstones —
    // anti-joins no-op on them; the next refresh or forget converges it).
    // Readers pinned to the PREVIOUS generation keep filtering via its
    // snapshot — the pre-r17 lookback leak is closed.
    vecTombs(indexPath).drop(spark)
    // prune generations older than the immediate predecessor; `cur`
    // itself stays as the in-flight readers' lookback until next refresh
    f.listStatus(hp(indexPath)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("g=")).map(_.stripPrefix("g=").toLong)
      .filter(_ < cur)
      .foreach(g => f.delete(hp(generationDir(indexPath, g)), true): Unit)
  }

  /** Fails when a pinned generation has been pruned: a resolved generation
    * is retained for ONE [[refreshCentroids]] cycle (the zero-downtime
    * lookback window). */
  def requireGeneration(spark: SparkSession, genDir: String): Unit =
    if (!fs(spark, genDir).exists(hp(genDir)))
      throw new IllegalStateException(
        s"IVF generation at $genDir has been pruned: a resolved generation" +
          " is retained for ONE refreshCentroids cycle (the zero-downtime" +
          " lookback window); this reader pinned it across at least two —" +
          " re-resolve the index (resolve) and re-issue the probe")
}
