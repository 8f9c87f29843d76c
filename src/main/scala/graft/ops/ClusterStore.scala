package graft.ops

import graft.ops.Checkpoints._
import graft.ops.DedupOps.connectedComponents
import graft.ops.ShardedStore.{hp, shard, shardOf, shardsOf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental near-dup CLUSTER STORE: one object owns its layout,
  * its manifest and every mutation of it.
  *
  * [[DedupOps.connectedComponents]] labels a STATIC pair set; production
  * keeps the labels as state and folds each micro-batch's near-dup pairs
  * in — the missing incremental piece between per-batch verdicts
  * ([[SignatureIndex.probe]]) and corpus-wide keep/drop decisions. The
  * store is a family of sharded tables (the [[ShardedStore]] idiom):
  *
  *  - `by_doc/doc_pt=K`      — (doc_id, cluster_id), the LOOKUP side: a
  *    batch resolves its endpoints' labels with a doc_pt partition filter
  *    + broadcast semi (batch-shard-sized I/O, never store-sized);
  *  - `by_cluster/cluster_pt=K` — (cluster_id, doc_id), the MERGE side:
  *    when clusters merge, the losing clusters' members are enumerated
  *    with a cluster_pt filter and only affected shards are rewritten;
  *  - `edges/edge_pt=K`      — (id_l, id_r), the persisted PAIR
  *    EVIDENCE, keyed by the canonical MIN ENDPOINT (fmt 2): the piece
  *    that makes retraction exact. Without it, forgetting a doc could
  *    only drop its label row — the components it alone bridged would
  *    survive as one cluster forever. With it, [[forget]] re-derives ONLY
  *    the affected components from surviving evidence, splitting exactly
  *    where a from-scratch recompute over surviving docs would. Label-free
  *    rows mean relabels never rewrite evidence, and presence probes
  *    prune by the batch's own endpoints (no label dependency);
  *  - stable stores add `alloc/alloc_pt=K` (label → external id) and
  *    `ext_retired/ext_pt=K` (the fresh-mint uniqueness guard).
  *
  * Merging contracts each existing component to its label node (labels
  * are min-member ids, so min-root union-find over {labels} ∪ {batch ids}
  * reproduces min-reachable-id over the FULL edge history — the catalog
  * entry proves equality to the from-scratch recompute cross-engine).
  * The contracted graph is batch-grain (batch pairs + touched labels,
  * count-guarded BEFORE collection), so the driver union-find is bounded
  * by the micro-batch, never the corpus; member relabeling stays
  * distributed. Shard rewrites follow the [[ShardedStore]] commit-marker
  * protocol: ALL tables stage completely, then [[ShardedStore.install]]
  * writes the store-level `_commit` marker and swaps every table — so a
  * crash anywhere rolls the WHOLE store to one side of the boundary
  * ([[recover]] at open; the r15 cross-table window — by_cluster
  * committed forward, by_doc rolled back — is structurally impossible).
  * Replay-idempotent: a retried batch finds its roots merged, its docs
  * present, and its edges stored, and writes nothing. */
object ClusterStore {

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
  private val allocSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "cluster_id BIGINT, ext_id BIGINT, ep BIGINT, alloc_pt INT")
  private val retiredSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "ext_id BIGINT, ext_pt INT")

  private def byDoc(spark: SparkSession, storePath: String) =
    spark.read.schema(byDocSchema).parquet(s"$storePath/by_doc")
  private def byCluster(spark: SparkSession, storePath: String) =
    spark.read.schema(byClusterSchema).parquet(s"$storePath/by_cluster")
  private def edges(spark: SparkSession, storePath: String) =
    spark.read.schema(edgesSchema).parquet(s"$storePath/edges")
  private def alloc(spark: SparkSession, storePath: String) =
    spark.read.schema(allocSchema).parquet(s"$storePath/alloc")
  private def retired(spark: SparkSession, storePath: String) =
    spark.read.schema(retiredSchema).parquet(s"$storePath/ext_retired")

  private def allocDir(storePath: String) = s"$storePath/alloc"
  private def retiredDir(storePath: String) = s"$storePath/ext_retired"

  /** Every stored label: (doc_id, cluster_id). */
  def labels(spark: SparkSession, storePath: String): DataFrame =
    byDoc(spark, storePath).select("doc_id", "cluster_id")

  /** A stable store's allocations: (cluster_id, ext_id, ep). */
  def allocations(spark: SparkSession, storePath: String): DataFrame =
    alloc(spark, storePath).select("cluster_id", "ext_id", "ep")

  /** Store layout version, stamped in the manifest: 2 = min-endpoint-keyed
    * edges + the ext-retired guard table (r17). */
  private val ClusterStoreFmt = 2L

  private def tables(storePath: String) = Seq(
    ShardedStore.Table(s"$storePath/by_doc", "doc_pt"),
    ShardedStore.Table(s"$storePath/by_cluster", "cluster_pt"),
    ShardedStore.Table(s"$storePath/edges", "edge_pt"),
    ShardedStore.Table(allocDir(storePath), "alloc_pt"),
    ShardedStore.Table(retiredDir(storePath), "ext_pt"))

  /** Rolls every table to ONE rewrite boundary (the
    * [[SignatureIndex.recover]] sibling — see [[ShardedStore.recover]]);
    * run at store open. */
  def recover(spark: SparkSession, storePath: String): Unit =
    ShardedStore.recover(spark, storePath, tables(storePath))

  /** The manifest's nParts, after its exists and layout-version checks:
    * a store of another fmt must be rebuilt from its source batches or
    * migrated offline. Throws when `nParts` disagrees with the caller —
    * partition pruning would miss shards. */
  private def requireParts(spark: SparkSession, storePath: String, nParts: Int): Unit = {
    val mParts = ShardedStore.readManifest(spark, storePath, "cluster store",
      Some(ShardedStore.Fmt(ClusterStoreFmt, None)))("nParts").toInt
    require(mParts == nParts,
      s"cluster store at $storePath has nParts=$mParts, caller supplied $nParts" +
        " — partition pruning would miss shards")
  }

  private def write(cc: DataFrame, evidence: DataFrame, storePath: String,
                    nParts: Int, allocEpoch: Option[Long]): Unit = {
    val spark = cc.sparkSession
    val l = cc.persist()
    try {
      l.select(col("doc_id"), col("cluster_id"))
        .withColumn("doc_pt", shard(col("doc_id"), nParts))
        .repartition(nParts, col("doc_pt"))
        .write.mode("overwrite").partitionBy("doc_pt").parquet(s"$storePath/by_doc")
      l.select(col("cluster_id"), col("doc_id"))
        .withColumn("cluster_pt", shard(col("cluster_id"), nParts))
        .repartition(nParts, col("cluster_pt"))
        .write.mode("overwrite").partitionBy("cluster_pt").parquet(s"$storePath/by_cluster")
      evidence.select(col("id_l"), col("id_r"))
        .withColumn("edge_pt", shard(col("id_l"), nParts))
        .repartition(nParts, col("edge_pt"))
        .write.mode("overwrite").partitionBy("edge_pt").parquet(s"$storePath/edges")
      // stable stores: every component allocates its label as ext_id at
      // the bootstrap epoch
      allocEpoch.foreach { ep =>
        l.select(col("cluster_id")).distinct()
          .select(col("cluster_id"), col("cluster_id").as("ext_id"),
            lit(ep).as("ep"))
          .withColumn("alloc_pt", shard(col("cluster_id"), nParts))
          .repartition(nParts, col("alloc_pt"))
          .write.mode("overwrite").partitionBy("alloc_pt").parquet(allocDir(storePath))
      }
    } finally l.unpersist()
    // manifest written LAST: a readable manifest implies a complete bootstrap
    ShardedStore.writeManifest(spark, storePath, "nParts" -> nParts.toLong,
      "fmt" -> ClusterStoreFmt)
  }

  /** Folds one micro-batch of near-dup PAIRS (and its node set) into the
    * store — incremental connected components with the min-member-id
    * labeling of [[DedupOps.connectedComponents]] (the catalog entry pins
    * equality to the from-scratch recompute against the DuckDB
    * recursive-CTE oracle). First call bootstraps the store. Returns one
    * (doc_id, cluster_id) row per batch node — the batch's final labels.
    *
    * `nodes` needs column `id`; `pairs` columns `id_l`,`id_r` (either
    * endpoint may be new or already stored). Batch-grain driver state
    * only (pairs + touched labels, count-guarded by `driverPairLimit` /
    * `driverNodeLimit` BEFORE collection); member relabeling is a
    * distributed, shard-pruned staged rewrite, and the batch's pair
    * evidence lands in the `edges` table (keyed by canonical min
    * endpoint — label-free, so relabels never rewrite it) so [[forget]]
    * can later split what this merge joined. */
  def merge(nodes: DataFrame, pairs: DataFrame, storePath: String,
            nParts: Int = SignatureIndex.IndexParts,
            driverPairLimit: Long = 1000000L,
            driverNodeLimit: Long = 1000000L,
            allocEpoch: Option[Long] = None): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    recover(spark, storePath)
    val fs = ShardedStore.fs(spark, storePath)
    // a STABLE store's allocation table must be maintained in the SAME
    // commit boundary as the label tables (a second transaction loses
    // the pre-merge constituent labels if the process dies between the
    // two — the retry could then only allocate fresh, silently breaking
    // inheritance): fail loudly when a stable store is merged without
    // an epoch
    val allocExists = fs.exists(hp(allocDir(storePath)))
    require(!allocExists || allocEpoch.isDefined,
      s"cluster store at $storePath carries stable-id allocations — merge " +
        "through mergeStable (or pass allocEpoch) so they stay consistent")
    // ... and the REVERSE direction: an epoch on an existing store that
    // was bootstrapped WITHOUT stable ids must not silently "upgrade" it —
    // the alloc table would cover only batch-touched components, and every
    // other component's ext would later read back as a silent wrong id
    val bootstrapping = !ShardedStore.hasManifest(spark, storePath)
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
    if (!fs.exists(hp(storePath)) || bootstrapping) {
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
        write(cc, canon, storePath, nParts, allocEpoch)
        receipt
      }
      ps.unpersist(); ns.unpersist()
      return receipt0
    }
    requireParts(spark, storePath, nParts)
    // batch-grain driver state: pairs + node ids, COUNT-guarded before any
    // row reaches the driver (an oversized micro-batch fails loudly
    // instead of OOMing the driver mid-collect)
    val nPairs = ps.count()
    require(nPairs <= driverPairLimit,
      s"ClusterStore.merge: $nPairs pairs exceeds driverPairLimit=" +
        s"$driverPairLimit — split the batch")
    val nNodes = ns.count()
    require(nNodes <= driverNodeLimit,
      s"ClusterStore.merge: $nNodes nodes exceeds driverNodeLimit=" +
        s"$driverNodeLimit — split the batch")
    val pairRows = ps.collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodeIds = ns.collect().map(_.getLong(0))
    ps.unpersist(); ns.unpersist() // driver state from here on
    val touched = (nodeIds ++ pairRows.flatMap(p => Seq(p._1, p._2))).distinct
    if (touched.isEmpty)
      return ShardedStore.empty(spark, "doc_id BIGINT, cluster_id BIGINT")
    // resolve touched ids' existing labels AND the batch pairs' stored-
    // evidence presence in ONE pruned collect: both prunes derive from
    // the batch alone (doc_pt of touched ids; edge_pt of the canonical
    // min endpoints — fmt 2 keys edges by endpoint, not by label), so
    // neither scan waits on the other, and the replay hot path costs a
    // single job where r16 paid two (the by_doc lookup, then a label-
    // keyed probe that could not start until the lookup resolved)
    val canonPairs = pairRows.filter(p => p._1 != p._2)
      .map { case (l, r) => if (l < r) (l, r) else (r, l) }.distinct
    val dpts = touched.map(shardOf(_, nParts)).distinct.toSeq
    val byDocScan = byDoc(spark, storePath)
      .where(col("doc_pt").isin(dpts: _*))
      .join(broadcast(touched.toSeq.toDF("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("a"), col("cluster_id").as("b"),
        lit(0).as("tag"))
    val scan = if (canonPairs.isEmpty) byDocScan else byDocScan.unionByName(
      edges(spark, storePath)
        .where(col("edge_pt").isin(
          canonPairs.map(p => shardOf(p._1, nParts)).distinct.toSeq: _*))
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
    if (losers.isEmpty && newDocs.isEmpty && newEdgeRows.isEmpty) return receipt
    val remap = losers.toSeq.map(l => (l, rootOf(l))).toDF("cluster_id", "__root")
    // every component that changed contributes its final root's shard
    val finalRoots = (losers.map(rootOf) ++ newDocs.map(_._2)).toSeq.distinct
    // phase 0 (settled reads): the losing clusters' members — needed for
    // the by_doc rewrite's shard list — are read from live dirs and
    // settled BEFORE any staging/swap touches the store
    val loserPts = losers.map(shardOf(_, nParts)).toSeq.distinct
    val loserDocPts = if (losers.isEmpty) Seq.empty[Int]
      else settled(byCluster(spark, storePath)
          .where(col("cluster_pt").isin(loserPts: _*))
          .join(broadcast(losers.toSeq.toDF("cluster_id")), Seq("cluster_id"), "left_semi")
          .select("doc_id")) { loserMembers =>
        shardsOf(loserMembers, col("doc_id"), nParts)
      }
    val docPts = (loserDocPts ++ newDocs.map(d => shardOf(d._1, nParts))).distinct
    val Seq(byDocT, byClusterT, edgesT, allocT, _) = tables(storePath)
    // phase 1: stage EVERY affected table completely, live dirs untouched
    val relabeled = if (losers.isEmpty && newDocs.isEmpty) Nil else {
      val clusterPts = (loserPts ++ finalRoots.map(shardOf(_, nParts))).distinct
      val newRows = newDocs.toDF("doc_id", "cluster_id")
      val byClusterKept = byCluster(spark, storePath)
        .where(col("cluster_pt").isin(clusterPts: _*))
        .join(broadcast(remap), Seq("cluster_id"), "left")
        .select(coalesce(col("__root"), col("cluster_id")).as("cluster_id"),
          col("doc_id"))
        .unionByName(newRows.select(col("cluster_id"), col("doc_id")))
        .withColumn("cluster_pt", shard(col("cluster_id"), nParts))
      val byClusterStaged = ShardedStore.stage(byClusterKept, byClusterT, clusterPts)
      val byDocKept = byDoc(spark, storePath)
        .where(col("doc_pt").isin(docPts: _*))
        .join(broadcast(remap), Seq("cluster_id"), "left")
        .select(col("doc_id"), coalesce(col("__root"), col("cluster_id")).as("cluster_id"))
        .unionByName(newRows)
        .withColumn("doc_pt", shard(col("doc_id"), nParts))
      Seq(byClusterStaged, ShardedStore.stage(byDocKept, byDocT, docPts))
    }
    // edges: fmt 2 rows are label-free, so relabeling never touches them —
    // only NEW evidence stages, into its min-endpoint shards (the r16
    // loser re-key rewrite is gone entirely)
    val edgesStaged = if (newEdgeRows.isEmpty) Nil else {
      val edgePts = newEdgeRows.map(p => shardOf(p._1, nParts)).distinct
      val edgesKept = edges(spark, storePath)
        .where(col("edge_pt").isin(edgePts: _*))
        .select("id_l", "id_r")
        .unionByName(newEdgeRows.toDF("id_l", "id_r"))
        .distinct()
        .withColumn("edge_pt", shard(col("id_l"), nParts))
      Seq(ShardedStore.stage(edgesKept, edgesT, edgePts))
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
    val allocStaged = allocEpoch.toSeq.flatMap { ep =>
      val prevLabels = known.values.toSet
      if (finalRoots.isEmpty) Nil
      else {
        val consts: Map[Long, Set[Long]] = finalRoots.map { r =>
          r -> (losers.filter(l => rootOf(l) == r) ++
            (if (prevLabels.contains(r)) Set(r) else Set.empty[Long]))
        }.toMap
        val keys = (losers.toSeq ++ finalRoots).distinct
        val allocPresent = fs.exists(hp(allocDir(storePath)))
        val existing: Map[Long, (Long, Long)] =
          if (!allocPresent) Map.empty
          else alloc(spark, storePath)
            .where(col("alloc_pt").isin(keys.map(shardOf(_, nParts)).distinct: _*))
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
        if (unchanged) Nil
        else {
          val aPts = keys.map(shardOf(_, nParts)).distinct
          val base =
            if (allocPresent)
              alloc(spark, storePath)
                .where(col("alloc_pt").isin(aPts: _*))
                .join(broadcast(keys.toDF("cluster_id")), Seq("cluster_id"), "left_anti")
                .select("cluster_id", "ext_id", "ep")
            else ShardedStore.empty(spark, "cluster_id BIGINT, ext_id BIGINT, ep BIGINT")
          val kept = base.unionByName(newRows.toDF("cluster_id", "ext_id", "ep"))
            .withColumn("alloc_pt", shard(col("cluster_id"), nParts))
          Seq(ShardedStore.stage(kept, allocT, aPts))
        }
      }
    }
    // phases 2–4: every staging is complete — from the commit marker on,
    // a crash anywhere rolls the WHOLE store forward
    ShardedStore.install(spark, storePath, relabeled ++ edgesStaged ++ allocStaged)
    receipt
  }

  /** Removes documents from the store — the retraction side of [[merge]],
    * and the op that keeps the store equal to a from-scratch labeling
    * over SURVIVING docs (the catalog entry's cross-engine proof). Only
    * the forgotten docs' components are recomputed, from the persisted
    * pair evidence: a forgotten BRIDGE doc splits its component exactly as
    * recomputing from scratch would — labels-only stores cannot do this,
    * which is why the `edges` table exists.
    *
    * Steps (all reads settled before any staging; every affected table
    * swaps under ONE [[ShardedStore.install]]):
    *  1. the forget set's current labels — doc_pt-pruned lookup
    *     (forget-set-shard-sized I/O);
    *  2. the affected components' members (cluster_pt-pruned `by_cluster`
    *     read) and edges (edge_pt-pruned by the member shard list — an
    *     affected component's evidence always has id_l among its members);
    *  3. survivors relabel via [[DedupOps.connectedComponents]] over
    *     surviving members and evidence (driver union-find below the
    *     limit, the distributed pointer-doubling loop above it) —
    *     min-reachable-id, so untouched components' labels can never
    *     collide with the new ones (labels are member ids, components are
    *     disjoint);
    *  4. affected shards are rewritten: forgotten docs' rows dropped,
    *     survivors relabeled; surviving evidence stays PUT (label-free
    *     edges) — only rows incident to a forgotten id drop.
    *
    * Returns one settled (doc_id, was_clustered) receipt row per distinct
    * input id. Replay-safe: a retried forget finds the ids absent and
    * writes nothing. Cost ∝ affected components' shards, never store
    * size. */
  def forget(removeIds: DataFrame, storePath: String,
             nParts: Int = SignatureIndex.IndexParts,
             driverPairLimit: Long = 1000000L,
             allocEpoch: Option[Long] = None): DataFrame = {
    val spark = removeIds.sparkSession
    import spark.implicits._
    recover(spark, storePath)
    // a STABLE store (mergeStable) keeps per-cluster external-id
    // allocations keyed by the current label; a forget that relabels or
    // splits components MUST repair them in the same commit boundary, and
    // split remainders need an allocation epoch — fail loudly rather than
    // silently strand alloc rows under vanished labels
    val allocExists = ShardedStore.fs(spark, storePath).exists(hp(allocDir(storePath)))
    require(!allocExists || allocEpoch.isDefined,
      s"cluster store at $storePath carries stable-id allocations — pass " +
        "allocEpoch so split remainders can allocate new external ids")
    requireParts(spark, storePath, nParts)
    settled(removeIds.select(col("doc_id").cast("long").as("doc_id")).distinct()) { ids =>
      val nIds = ids.count()
      require(nIds <= driverPairLimit,
        s"ClusterStore.forget: $nIds ids exceeds driverPairLimit=" +
          s"$driverPairLimit — split the batch")
      val idRows = ids.collect().map(_.getLong(0))
        val stored: Map[Long, Long] = if (idRows.isEmpty) Map.empty
        else byDoc(spark, storePath)
          .where(col("doc_pt").isin(idRows.map(shardOf(_, nParts)).distinct.toSeq: _*))
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
          .select("doc_id", "cluster_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val receipt = idRows.map(id => (id, stored.contains(id))).toSeq
        .toDF("doc_id", "was_clustered")
      if (stored.nonEmpty) {
        val affected = stored.values.toSeq.distinct
        val apts = affected.map(shardOf(_, nParts)).distinct
        val affDf = affected.toDF("cluster_id")
        // settled reads of the affected components (live dirs untouched until
        // every staging below completes)
        settled(byCluster(spark, storePath)
            .where(col("cluster_pt").isin(apts: _*))
            .join(broadcast(affDf), Seq("cluster_id"), "left_semi")
            .select("cluster_id", "doc_id")) { members =>
          val memberPts = shardsOf(members, col("doc_id"), nParts)
          // fmt 2 edges are keyed by canonical min endpoint: an affected
          // component's evidence always has id_l ∈ its members, so the member
          // shard list (already needed for the by_doc rewrite) prunes the read
          // exactly; the semi-join restricts shared shards to affected rows
          settled(edges(spark, storePath)
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
              val newLabelPts = shardsOf(newLabels, col("cluster_id"), nParts)
              val cPts = (apts ++ newLabelPts).distinct
              val Seq(byDocT, byClusterT, edgesT, allocT, retiredT) = tables(storePath)
              // stage every affected table, then one commit boundary
              val byDocKept = byDoc(spark, storePath)
                .where(col("doc_pt").isin(memberPts: _*))
                .join(members.select("doc_id"), Seq("doc_id"), "left_anti") // affected rows out
                .select("doc_id", "cluster_id")
                .unionByName(newLabels)                    // survivors back, relabeled
                .withColumn("doc_pt", shard(col("doc_id"), nParts))
              val byDocStaged = ShardedStore.stage(byDocKept, byDocT, memberPts)
              val byClusterKept = byCluster(spark, storePath)
                .where(col("cluster_pt").isin(cPts: _*))
                .join(broadcast(affDf), Seq("cluster_id"), "left_anti")
                .select("cluster_id", "doc_id")
                .unionByName(newLabels.select(col("cluster_id"), col("doc_id")))
                .withColumn("cluster_pt", shard(col("cluster_id"), nParts))
              val byClusterStaged = ShardedStore.stage(byClusterKept, byClusterT, cPts)
              // fmt 2 edges never re-key: the rewrite only REMOVES rows incident to
              // a forgotten id — both removal classes live in the member shards
              // (id_l forgotten ⇒ a member's shard; id_r forgotten ⇒ id_l is a
              // surviving member of the same component), so memberPts is exact
              val edgesKept = edges(spark, storePath)
                .where(col("edge_pt").isin(memberPts: _*))
                .join(broadcast(ids.select(col("doc_id").as("id_l"))), Seq("id_l"), "left_anti")
                .join(broadcast(ids.select(col("doc_id").as("id_r"))), Seq("id_r"), "left_anti")
                .select("id_l", "id_r")
                .withColumn("edge_pt", shard(col("id_l"), nParts))
              val edgesStaged = ShardedStore.stage(edgesKept, edgesT, memberPts)
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
              val allocStaged =
                if (!allocExists) Nil
                else settled(members
                    .join(newLabels.withColumnRenamed("cluster_id", "new_label"), Seq("doc_id"))
                    .select(col("cluster_id"), col("new_label")).distinct()) { oldToNew =>
                val nMap = oldToNew.count()
                require(nMap <= driverPairLimit,
                  s"ClusterStore.forget: $nMap (old,new) label pairs exceeds " +
                    s"driverPairLimit=$driverPairLimit — split the forget batch")
                val mapping = oldToNew.collect().map(r => (r.getLong(0), r.getLong(1)))
                val existing: Map[Long, (Long, Long)] = alloc(spark, storePath)
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
                val aPts = (apts ++ newRows.map(r => shardOf(r._1, nParts))).distinct
                val allocKept = alloc(spark, storePath)
                  .where(col("alloc_pt").isin(aPts: _*))
                  .join(broadcast(affDf), Seq("cluster_id"), "left_anti")
                  .select("cluster_id", "ext_id", "ep")
                  .unionByName(newRows.toDF("cluster_id", "ext_id", "ep"))
                  .withColumn("alloc_pt", shard(col("cluster_id"), nParts))
                val allocT0 = ShardedStore.stage(allocKept, allocT, aPts)
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
                val retiredStaged = if (retiredNow.isEmpty) Nil else {
                  val rPts = retiredNow.map(shardOf(_, nParts)).distinct
                  val base =
                    if (!ShardedStore.fs(spark, storePath).exists(hp(retiredDir(storePath))))
                      ShardedStore.empty(spark, "ext_id BIGINT")
                    else retired(spark, storePath)
                      .where(col("ext_pt").isin(rPts: _*)).select("ext_id")
                  val kept = base.unionByName(retiredNow.toDF("ext_id")).distinct()
                    .withColumn("ext_pt", shard(col("ext_id"), nParts))
                  Seq(ShardedStore.stage(kept, retiredT, rPts))
                }
                allocT0 +: retiredStaged
              }
              ShardedStore.install(spark, storePath,
                Seq(byDocStaged, byClusterStaged, edgesStaged) ++ allocStaged)
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
  // [[mergeStable]] layers an ALLOCATION table over the oracle-verbatim
  // core: `alloc/alloc_pt=K` maps each CURRENT min-member label to
  // (ext_id, ep) — the external id and the epoch it was first allocated.
  // New components allocate ext_id = their label at allocation time; when
  // components MERGE, the FIRST-ALLOCATED constituent's ext_id wins (ties
  // broken by smaller ext_id) — so an external id survives any amount of
  // label churn and changes only when two already-allocated components
  // genuinely fuse (where SOME id must yield, by definition).
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
  private def requireExtNotRetired(spark: SparkSession, storePath: String,
                                   exts: Seq[Long], nParts: Int): Unit = {
    if (exts.isEmpty) return
    val fs = ShardedStore.fs(spark, storePath)
    if (!fs.exists(hp(retiredDir(storePath)))) return
    import spark.implicits._
    val hits = retired(spark, storePath)
      .where(col("ext_pt").isin(exts.map(shardOf(_, nParts)).distinct: _*))
      .join(broadcast(exts.toDF("ext_id")), Seq("ext_id"), "left_semi")
      .select("ext_id").collect().map(_.getLong(0))
    if (hits.isEmpty) return
    val live: Array[Long] =
      if (!fs.exists(hp(allocDir(storePath)))) Array.empty
      else alloc(spark, storePath)
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
    * like [[SignatureIndex.compact]]; run it from the same serial
    * maintenance slot as merges/forgets (single-writer discipline).
    * Crash-safe via the store commit protocol: every touched shard
    * stages (emptied shards get EMPTY markers), then swaps behind the
    * store-level `_commit` marker. Returns the number of dropped
    * records; 0 (and no write) when nothing is stale. */
  def compactRetiredExts(spark: SparkSession, storePath: String): Long = {
    recover(spark, storePath)
    val fs = ShardedStore.fs(spark, storePath)
    if (!fs.exists(hp(retiredDir(storePath)))) return 0L
    settled(retired(spark, storePath).select("ext_id", "ext_pt")) { retiredRows =>
      val liveExts =
        if (!fs.exists(hp(allocDir(storePath)))) ShardedStore.empty(spark, "ext_id BIGINT")
        else alloc(spark, storePath).select("ext_id")
      // settled BEFORE the rewrite mutates its source
      settled(retiredRows.join(liveExts, Seq("ext_id"), "left_semi")) { kept =>
        val dropped = retiredRows.count() - kept.count()
        if (dropped != 0L) {
          // only shards holding a stale record rewrite (stage installs ALL
          // of kept, so kept is filtered to the touched shards — untouched
          // dirs stay put); shards emptied entirely are retired via EMPTY
          // markers
          val pts = retiredRows.join(kept, Seq("ext_id"), "left_anti")
            .select("ext_pt").distinct().collect().map(_.getInt(0)).toSeq
          ShardedStore.install(spark, storePath, Seq(ShardedStore.stage(
            kept.where(col("ext_pt").isin(pts: _*)).select(col("ext_id"), col("ext_pt")),
            tables(storePath).last, pts)))
        }
        dropped
      }
    }
  }

  /** [[merge]] plus stable-external-id maintenance. `epoch` is the
    * caller's batch/epoch counter (monotone across calls — it IS the
    * allocation-order tiebreaker). The allocation table is maintained
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
  def mergeStable(nodes: DataFrame, pairs: DataFrame, storePath: String,
                  epoch: Long, nParts: Int = SignatureIndex.IndexParts,
                  driverPairLimit: Long = 1000000L,
                  driverNodeLimit: Long = 1000000L): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val receipt = merge(nodes, pairs, storePath, nParts,
      driverPairLimit, driverNodeLimit, allocEpoch = Some(epoch))
      .cutLineage()
    // batch-grain: the receipt covers the batch's nodes only
    val labels = receipt.select(col("cluster_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val ext: DataFrame =
      if (labels.isEmpty)
        Seq.empty[(Long, Long, Long)].toDF("cluster_id", "ext_id", "ext_epoch")
      else alloc(spark, storePath)
        .where(col("alloc_pt").isin(labels.map(shardOf(_, nParts)).distinct: _*))
        .join(broadcast(labels.toDF("cluster_id")), Seq("cluster_id"), "left_semi")
        .select(col("cluster_id"), col("ext_id"), col("ep").as("ext_epoch"))
    receipt.join(broadcast(ext), Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"), col("ext_id"), col("ext_epoch"))
  }
}
