package graft

import graft.ops.ClusterStore
import org.apache.spark.sql.functions._

/** Randomized differential fuzz of merge/forget INTERLEAVINGS on the
  * persisted cluster store — the committed, seeded form of the r17
  * post-gate campaign (PLANS.md: 176 driver-checked steps, 0 failures),
  * which previously existed only as a prose record. Chosen-case specs
  * ([[IncrementalClusterSpec]]) pin the scenarios we thought of; this
  * fuzz composes the ops RANDOMLY and checks every step against a
  * from-scratch driver reference model, so protocol bugs that need an
  * unanticipated sequence (the class that produced the r16
  * holder-inheritance and alloc-boundary bugs) regress loudly.
  *
  * Fixed seeds ⇒ deterministic run-to-run; the step counts are sized to
  * keep the suite inside a ~30 s budget.
  *
  * Invariants, after EVERY step:
  *  - `by_doc` equals min-member connected components over the model's
  *    surviving docs and surviving evidence (edges lose rows exactly
  *    when an endpoint is forgotten);
  *  - stable stores: live ext_ids are UNIQUE, and alloc rows cover
  *    exactly the live components (no strays, no unallocated);
  *  - a retired-ext mint refusal is a LEGAL outcome iff the inheriting
  *    allocation is still live (r18 liveness rule) — the op must then
  *    have mutated nothing and the fuzz rolls its model back. */
class ClusterInterleaveFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def store(leaf: String): String =
    graft.ops.Staging.dir("/tmp/graft_cluster_fuzz", "/root/testdata/sf0.001", leaf)

  private def byDoc(p: String): Map[Long, Long] = spark.read
    .schema(org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, cluster_id BIGINT, doc_pt INT"))
    .parquet(s"$p/by_doc")
    .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def alloc(p: String): Seq[(Long, Long)] = spark.read
    .schema(org.apache.spark.sql.types.StructType.fromDDL(
      "cluster_id BIGINT, ext_id BIGINT, ep BIGINT, alloc_pt INT"))
    .parquet(s"$p/alloc")
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** min-member labels over (docs, edges) — the reference model */
  private def ccModel(docs: Set[Long], edges: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val px = parent.getOrElseUpdate(x, x)
      if (px == x) x else { val r = find(px); parent(x) = r; r }
    }
    docs.foreach(d => find(d))
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    docs.map(d => d -> find(d)).toMap
  }

  /** one randomized campaign; `stable` adds alloc/ext invariants */
  private def campaign(seed: Long, steps: Int, stable: Boolean,
                       tag: String = ""): Unit = {
    val rng = new scala.util.Random(seed)
    val p = store(s"${if (stable) "stable" else "plain"}_$seed$tag")
    var docs = Set.empty[Long]        // live
    var everDocs = Set.empty[Long]    // live ∪ forgotten (re-ingest pool)
    var edges = Set.empty[(Long, Long)]
    var nextId = 1L
    var guardFired = 0
    var staleMints = 0
    var injected = false
    var sawMultiDocCluster = false
    var sawClusteredForget = false
    def retiredAvail(): Seq[Long] =
      if (!stable || !new java.io.File(s"$p/ext_retired").exists) Seq.empty
      else spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "ext_id BIGINT, ext_pt INT"))
        .parquet(s"$p/ext_retired").select("ext_id")
        .collect().map(_.getLong(0)).filterNot(docs).sorted.toSeq
    for (step <- 1 to steps) {
      val epoch = step.toLong
      // coverage forcing: if the random walk hasn't split a cluster by
      // the tail of the campaign, force a clustered forget (keeps the
      // fuzz non-vacuous under ANY seed, no hunting)
      val clusteredNow = docs.toSeq.sorted
        .filter(d => edges.exists(e => e._1 == d || e._2 == d))
      val forceClusteredForget = !sawClusteredForget &&
        step > steps - 3 && clusteredNow.nonEmpty
      if (!forceClusteredForget && (rng.nextInt(10) < 6 || docs.isEmpty)) {
        // MERGE: fresh ids, sometimes a re-ingested forgotten id as a
        // seed (the retired-ext hazard), random pairs over the pool.
        // HAZARD INJECTION (stable): re-seed a RETIRED ext-holder doc id
        // with no pairs — the one shape that reaches the mint guard; the
        // guard's two legal outcomes (refusal while the inheriting
        // allocation lives, clean mint once it vanished) are both
        // asserted, so the fuzz exercises the r18 liveness rule under
        // ANY seed instead of hoping the walk finds it
        val hazards = retiredAvail()
        val inject = hazards.nonEmpty &&
          (rng.nextInt(4) == 0 || (!injected && step > steps - 3))
        val (nodes, pairs, reingest) = if (inject) {
          injected = true
          // prefer the outcome not yet seen: LIVE hazard (ext still in
          // alloc ⇒ refusal) until a refusal happened, else STALE (⇒
          // clean mint); fall back to any
          val liveExts = alloc(p).map(_._2).toSet
          val (liveH, staleH) = hazards.partition(liveExts)
          val pick =
            if (guardFired == 0 && liveH.nonEmpty) liveH
            else if (staleH.nonEmpty) staleH
            else hazards
          val id = pick(rng.nextInt(pick.size))
          (Seq(id), Seq.empty[(Long, Long)], Seq(id))
        } else {
          val fresh = Seq.fill(rng.nextInt(3))({ nextId += 1; nextId })
          val forgotten = (everDocs -- docs).toSeq.sorted
          val re =
            if (forgotten.nonEmpty && rng.nextInt(3) == 0)
              Seq(forgotten(rng.nextInt(forgotten.size))) else Seq.empty
          val ns = fresh ++ re
          val pool = (docs.toSeq ++ ns).distinct.sorted
          val ps = if (pool.size < 2) Seq.empty[(Long, Long)]
            else Seq.fill(rng.nextInt(4)) {
              val a = pool(rng.nextInt(pool.size))
              val b = pool(rng.nextInt(pool.size))
              (a, b)
            }.filter(x => x._1 != x._2)
          (ns, ps, re)
        }
        // pre-image for the refusal check (bootstrap has no store yet —
        // and no guard table either, so a refusal is impossible there)
        val before =
          if (stable && new java.io.File(s"$p/by_doc").exists)
            Some(byDoc(p)) else None
        try {
          if (stable)
            ClusterStore.mergeStable(nodes.toDF("id"),
              pairs.toDF("id_l", "id_r"), p, epoch = epoch).count()
          else
            ClusterStore.merge(nodes.toDF("id"),
              pairs.toDF("id_l", "id_r"), p).count()
          val touched = nodes ++ pairs.flatMap(x => Seq(x._1, x._2))
          docs ++= touched; everDocs ++= touched
          edges ++= pairs.map(x =>
            (math.min(x._1, x._2), math.max(x._1, x._2)))
          if (inject) staleMints += 1 // stale record: the mint went through
        } catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("refusing to allocate") =>
            // legal ONLY while the retired ext's allocation is live —
            // which requires a re-ingested seed in this batch
            assert(reingest.nonEmpty,
              s"seed=$seed step=$step: guard fired without a re-ingested seed")
            assert(byDoc(p) == before.get,
              s"seed=$seed step=$step: refused merge mutated the store")
            guardFired += 1
        }
      } else {
        // FORGET: random stored subset — biased toward CLUSTERED docs
        // (the split/inheritance machinery is the code under test; a
        // uniform draw mostly hits singletons) — plus sometimes an
        // absent id
        val pool =
          if (clusteredNow.nonEmpty &&
            (forceClusteredForget || rng.nextInt(2) == 0)) clusteredNow
          else docs.toSeq.sorted
        val gone = Seq.fill(rng.nextInt(3) + 1)(
          pool(rng.nextInt(pool.size))).distinct
        val absent = if (rng.nextInt(3) == 0) Seq(900000L + step) else Seq.empty
        ClusterStore.forget((gone ++ absent).toDF("doc_id"), p,
          allocEpoch = if (stable) Some(epoch) else None).count()
        if (gone.exists(g => edges.exists(e => e._1 == g || e._2 == g)))
          sawClusteredForget = true
        docs --= gone
        edges = edges.filterNot(e => gone.contains(e._1) || gone.contains(e._2))
      }
      // differential check against the reference model, EVERY step
      val want = ccModel(docs, edges)
      if (want.values.toSeq.distinct.size < want.size) sawMultiDocCluster = true
      val got = byDoc(p)
      assert(got == want,
        s"seed=$seed step=$step: store diverged from the model\n got=$got\nwant=$want")
      if (stable) {
        val a = alloc(p)
        val exts = a.map(_._2)
        assert(exts.distinct.size == exts.size,
          s"seed=$seed step=$step: live ext ids not unique: $a")
        assert(a.map(_._1).toSet == want.values.toSet,
          s"seed=$seed step=$step: alloc keys != live components: $a vs ${want.values.toSet}")
      }
    }
    // non-vacuity is CUMULATIVE (a late forget may legally empty the
    // store): the campaign must have exercised a real merge and a real
    // forget-of-clustered-doc at some point
    assert(sawMultiDocCluster && sawClusteredForget,
      s"seed=$seed: campaign never exercised a multi-doc cluster or a " +
        "clustered forget — retune the step mix")
    if (stable) {
      assert(!injected || guardFired + staleMints > 0)
      info(s"seed=$seed: injected=$injected, guard refused $guardFired, " +
        s"stale mints $staleMints")
    }
  }

  test("plain store: random merge/forget interleavings equal the driver " +
      "union-find model after every step (seeds 1, 2)") {
    campaign(seed = 1L, steps = 10, stable = false)
    campaign(seed = 2L, steps = 10, stable = false)
  }

  test("stable store: random interleavings with re-ingest keep label " +
      "parity, ext uniqueness, and exact alloc coverage (seeds 11-13; " +
      "both guard outcomes reached)") {
    campaign(seed = 11L, steps = 14, stable = true)
    campaign(seed = 12L, steps = 14, stable = true)
    campaign(seed = 13L, steps = 14, stable = true)
  }

  test("reliable checkpoint mode: the plain-store campaign (seed 1) equals " +
      "the union-find model after every step, checkpointing into its own dir") {
    ReliableCheckpoints(spark, "cluster_fuzz") {
      campaign(seed = 1L, steps = 10, stable = false, tag = "_reliable")
    }
  }
}
