package graft.streaming

import graft.ops.IvfIndex
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized interleaving fuzz of the IVF index's retraction protocol —
  * the committed, seeded form of the r17 post-gate campaign (PLANS.md:
  * 60 steps over insert / re-ingest / forget / refresh / compact with a
  * pinned reader, 0 failures). The generation/snapshot machinery
  * ([[IvfIndex.refreshCentroids]]'s per-generation tombstone
  * snapshot, the re-ingest purge, compaction) keeps changing; chosen-case
  * specs ([[GenTombstoneSnapshotSpec]]) pin the scenarios we thought of,
  * this fuzz composes them randomly.
  *
  * Invariants, after EVERY step:
  *  - neither the CURRENT-generation search nor the PINNED reader
  *    surfaces a logically-forgotten vector (the right-to-be-forgotten
  *    contract, including via the superseded generation's snapshot);
  *  - every survivor — including re-ingested ids — stays exactly
  *    matchable in the current generation (an identical query vector
  *    finds it at cosine 1.0);
  *  - the machinery never errors.
  *
  * The reader re-pins after each refresh (pins are valid for ONE cycle —
  * the lookback contract [[IvfContractSpec]] pins separately). Runs at
  * dim 12, so the whole protocol is exercised off the fixture's 64-dim
  * happy path. Fixed seeds ⇒ deterministic. */
class IvfRetractionFuzzSpec extends SparkSpec {
  import spark.implicits._
  import StreamingOps._

  private val Dim = 12

  /** injective in id (component 0 carries the id directly — the modular
    * pattern alone repeats every 17 ids, and two identical vectors would
    * make the exact-match assertions ambiguous) */
  private def vec(id: Long): Seq[Float] =
    Seq.tabulate(Dim)(k =>
      if (k == 0) (id % 1009 + 1).toFloat
      else (((id * 37 + k * 11) % 17) - 8 + 0.5).toFloat)

  private def dfv(ids: Seq[Long]) =
    ids.map(id => (id, vec(id))).toDF("vec_id", "embedding")

  private def campaign(seed: Long, steps: Int): Unit = {
    val rng = new scala.util.Random(seed)
    val p = java.nio.file.Files
      .createTempDirectory(s"ivf_fuzz_$seed").toString + "/index"
    var live = Set.empty[Long]
    var ever = Set.empty[Long]
    var nextId = 0L
    var batchId = 0L
    var refreshes = 0
    var reingests = 0
    var forgets = 0
    // bootstrap, then pin
    def insert(ids: Seq[Long]): Unit = {
      batchId += 1
      ivfSearchInsertBatch(dfv(ids), p, batchId = batchId, nProbe = 3)
      live ++= ids; ever ++= ids
    }
    insert(Seq.fill(6)({ nextId += 1; nextId }))
    var pinned = IvfIndex.resolve(spark, p)
    for (step <- 1 to steps) {
      // tail-forcing keeps the campaign non-vacuous under ANY seed: a
      // forget, then a re-ingest, then a refresh are guaranteed if the
      // random walk skipped them (in that order — the snapshot path
      // needs forget-before-refresh to matter)
      val op =
        if (step == steps - 3 && forgets == 0 && live.nonEmpty) 2
        else if (step == steps - 2 && reingests == 0 && (ever -- live).nonEmpty) 1
        else if (step == steps - 1 && refreshes == 0) 3
        else rng.nextInt(5)
      op match {
        case 0 => // INSERT fresh
          insert(Seq.fill(rng.nextInt(4) + 1)({ nextId += 1; nextId }))
        case 1 => // RE-INGEST forgotten ids (+ maybe a fresh one)
          val pool = (ever -- live).toSeq.sorted
          if (pool.nonEmpty) {
            val back = Seq.fill(rng.nextInt(2) + 1)(
              pool(rng.nextInt(pool.size))).distinct
            val extra =
              if (rng.nextInt(2) == 0) Seq({ nextId += 1; nextId })
              else Seq.empty
            insert(back ++ extra)
            reingests += 1
          } else insert(Seq({ nextId += 1; nextId }))
        case 2 => // FORGET a random live subset
          val pool = live.toSeq.sorted
          if (pool.nonEmpty) {
            val gone = Seq.fill(rng.nextInt(3) + 1)(
              pool(rng.nextInt(pool.size))).distinct
            forgetVectorsBatch(gone.toDF("vec_id"), p).count()
            live --= gone
            forgets += 1
          }
        case 3 => // REFRESH (re-pin after: pins last ONE cycle)
          IvfIndex.refreshCentroids(spark, p)
          refreshes += 1
          pinned = IvfIndex.resolve(spark, p)
        case 4 => // COMPACT up to a random horizon
          IvfIndex.compact(spark, p, upToBatchId = rng.nextLong(batchId) + 1)
      }
      if (rng.nextInt(4) == 0) pinned = IvfIndex.resolve(spark, p) // random re-pin
      // ---- invariants ----
      val forgotten = (ever -- live).toSeq.sorted
      val cur = IvfIndex.resolve(spark, p)
      // query EVERY ever-seen id's exact embedding under a fresh q_id:
      // forgotten ids must never surface anywhere; live ids must be
      // exactly matchable (cos_e6 = 1e6) in the current generation
      val qs = ever.toSeq.sorted.map(id => (id + 1000000L, vec(id)))
        .toDF("vec_id", "embedding")
      val curHits = ivfSearchResolved(qs, p, cur, nProbe = 3)
        .select("q_id", "c_id", "cos_e6").collect()
        .map(r => (r.getLong(0) - 1000000L, r.getLong(1), r.getLong(2)))
      assert(!curHits.exists(h => forgotten.contains(h._2)),
        s"seed=$seed step=$step: current search surfaced forgotten ids " +
          s"${curHits.filter(h => forgotten.contains(h._2)).toSeq}")
      val matchable = curHits.filter(h => h._1 == h._2 && h._3 == 1000000L)
        .map(_._1).toSet
      val unmatched = live -- matchable
      assert(unmatched.isEmpty,
        s"seed=$seed step=$step: live ids not exactly matchable: " +
          s"${unmatched.toSeq.sorted} (live=${live.toSeq.sorted})")
      // the pinned reader never surfaces forgotten ids either — via the
      // index-level vector while pinned to current, via the generation
      // snapshot once superseded
      val pinnedHits = ivfSearchResolved(qs, p, pinned, nProbe = 3)
        .select("c_id").collect().map(_.getLong(0)).toSet
      assert(!pinnedHits.exists(forgotten.contains),
        s"seed=$seed step=$step: pinned reader surfaced forgotten ids " +
          s"${pinnedHits.intersect(forgotten.toSet).toSeq.sorted}")
    }
    assert(refreshes > 0 && reingests > 0 && forgets > 0,
      s"seed=$seed: campaign degenerate (refreshes=$refreshes, " +
        s"reingests=$reingests, forgets=$forgets)")
    info(s"seed=$seed: ${live.size} live / ${ever.size} ever, " +
      s"$forgets forgets, $refreshes refreshes, $reingests re-ingests")
  }

  test("random insert/re-ingest/forget/refresh/compact interleavings " +
      "never surface a forgotten vector and keep every survivor exactly " +
      "matchable (seeds 21, 22)") {
    campaign(seed = 21L, steps = 12)
    campaign(seed = 22L, steps = 12)
  }

  test("reliable checkpoint mode: the seed-21 campaign never surfaces a " +
      "forgotten vector, checkpointing into its own dir") {
    graft.ReliableCheckpoints(spark, "ivf_fuzz")(campaign(seed = 21L, steps = 12))
  }
}
