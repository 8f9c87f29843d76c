package graft.ops

import graft.ops.Checkpoints._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard near-dup detection, connected components,
  * and the flat delta-dedup pass. The persisted stores built from them
  * live in [[SignatureIndex]] and [[ClusterStore]]. Extension surface beyond
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
    * (as produced by ShingleHashSet) — codegen'd two-pointer merge, the
    * exact verification's kernel. Evaluated once per row
    * ([[graft.expressions.EvalOnce]]): the `jac >= θ` filters above it read
    * it twice, and a copy pushed down into the join would run the merge
    * per read. */
  def intersectSizeSorted(a: Column, b: Column): Column =
    graft.expressions.F.evalOnce(graft.expressions.F.intersectSizeSorted(a, b))

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
    // settled, not persisted: the doubling self-join would otherwise
    // triple the logical plan every round — lineage must be cut, not cached.
    var changed = 1L
    val labels = settled(p.union(p.select(col("dst").as("src"), col("src").as("dst")))) { edges =>
      settled(edges.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("label"))) { l0 =>
        iterate(l0, maxIter, until = { stepped =>
          changed = stepped.where(col("label") =!= col("old_label")).count()
          changed == 0
        }) { prev =>
          val labels = prev.select("node", "label")
          val nbrMin = edges.join(labels, edges("dst") === labels("node"))
            .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
          // pointer doubling: every label is itself a node id in `labels`.
          // Round 1 skips it — labels are still the identity map, so
          // label(label) = label and the self-join would be a pure-overhead
          // shuffle.
          val doubled =
            if (prev eq l0) labels.select(col("node").as("dnode"), col("label").as("dlabel"))
            else labels.alias("x")
              .join(labels.alias("y"), col("x.label") === col("y.node"))
              .select(col("x.node").as("dnode"), col("y.label").as("dlabel"))
          labels.alias("l")
            .join(doubled.alias("d"), col("l.node") === col("d.dnode"))
            .join(nbrMin.alias("n"), col("l.node") === col("n.src"), "left")
            .select(col("l.node").as("node"), col("l.label").as("old_label"),
              least(col("l.label"), col("d.dlabel"),
                coalesce(col("n.nbr_label"), col("l.label"))).as("label"))
        }
      }
    }
    if (changed > 0) {
      discard(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds ($changed labels still moving)")
    }
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

  /** Forwarder to [[SignatureIndex.compact]], kept because the repo
    * benchmark (`perfbench`) calls it by this name; it moves with the next
    * change to the benchmark. */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, minFiles: Int = 2): Unit =
    SignatureIndex.compact(spark, indexPath, minFiles)

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
    * persisted [[SignatureIndex]], [[SignatureIndex.probe]] additionally
    * prunes the index SCAN itself to collided shards.
    * `batchSigs` feeds both candidate arms and both verification joins;
    * as for [[SignatureIndex.probe]], the caller persists it (and owns its
    * release). */
  def dedupDeltaBatch(batchIds: DataFrame, batchSigs: DataFrame,
                      indexSigs: DataFrame, minJac: Double): DataFrame =
    dedupDeltaCore(batchIds, batchSigs,
      indexSigs.select(col("doc_id"), explode(col("bands")).as("bk")),
      indexSigs.select("doc_id", "hs"), minJac)

  /** Shared delta-dedup core: `iBand` is the corpus-side candidate band
    * rows (doc_id, bk) — the full index exploded for the flat path, or
    * just the batch-collided rows for the pruned path (equivalent: an
    * index band with no batch match joins nothing) — and `idxHs` the
    * (doc_id, hs) verification payloads covering at least every `iBand`
    * doc. `bs` must already be persisted: it feeds both candidate arms
    * and the batch-side verification join. */
  private[graft] def dedupDeltaCore(batchIds: DataFrame, bs: DataFrame,
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
