package graft

import graft.ops.SignatureIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.queries.{GeoPipeline, MixQueries, Relational, TextQueries}

/** Physical-plan regression tests: the properties that matter at scale —
  * filter pushdown to the parquet scan, column pruning, broadcast of small
  * dimensions, and the zero-exchange shape of the in-row geo argmin. These
  * lock in plan quality, not just result correctness. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planString(df: DataFrame): String = {
    val qe = df.queryExecution
    qe.executedPlan.toString + "\n" + qe.optimizedPlan.toString
  }

  test("geo enrichment core is map-only: no exchange, no join, custom argmin") {
    val plan = planString(GeoPipeline.enrichedCore(spark, sf))
    assert(plan.toLowerCase.contains("nearestzone"))
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
  }

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val df = Relational.q1Agg.run(spark, sf)
    val scanMeta = df.queryExecution.executedPlan.toString
    assert(scanMeta.contains("PushedFilters") &&
      scanMeta.contains("LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$scanMeta")
  }

  test("doc_fingerprint prunes the documents scan to doc_id + text") {
    val df = TextQueries.docFingerprint.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("events loader keeps column pruning intact despite the ts conversion") {
    val df = Relational.qFirstEventPerUser.run(spark, sf)
    val readSchema = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("event_id") && readSchema.contains("ts"))
    assert(!readSchema.contains("props") && !readSchema.contains("value"),
      s"events scan reads unneeded columns: $readSchema")
  }

  test("revenue star join broadcasts the small dimensions") {
    val df = Relational.qRevenueNation.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("decontaminate probes the benchmark set via broadcast hash join") {
    val plan = planString(MixQueries.decontaminate.run(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark probe should be a broadcast join:\n$plan")
  }

  test("pack_sequences never plans a single-partition global window") {
    val plan = MixQueries.packSequences.run(spark, sf)
      .queryExecution.executedPlan.toString
    // the final orderBy is rangepartitioning; the packing window itself must
    // hash-partition by source, never collapse to SinglePartition
    assert(!plan.contains("SinglePartition"),
      s"global single-partition stage in packing plan:\n$plan")
  }

  /** One [[NoopRun]] of a catalog query after a read of every table, so no
    * schema inference job counts; and its range exchanges. */
  private def sortRun(name: String): (NoopRun.Timed, Seq[NoopRun.Exchange]) = {
    Tables.validate(spark, sf)
    val t = NoopRun(spark)(SparkEntry.queries(name)(spark, sf))
    (t, t.exchanges.filter(_.partitioning.startsWith("rangepartitioning")))
  }

  private val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  test("a global sort over small shuffled input ranges into one partition, with no sampling job") {
    for (name <- Seq("q_price_histogram", "q_fuzzw_00")) {
      val (t, ranges) = sortRun(name)
      assert(ranges.nonEmpty && ranges.forall(_.partitioning.endsWith(", 1)")),
        s"$name:\n${t.exchanges.mkString("\n")}")
      // one job per exchange and the write's: RangePartitioner sampled nothing
      assert(t.jobs === t.exchanges.size + 1, s"$name:\n${t.exchanges.mkString("\n")}")
    }
  }

  test("a sort over a scan, or over shuffled input above the bound, keeps N range partitions") {
    val n = spark.conf.get("spark.sql.shuffle.partitions")
    def keepsN(name: String): Unit = {
      val (t, ranges) = sortRun(name)
      assert(ranges.nonEmpty && ranges.forall(_.partitioning.endsWith(s", $n)")),
        s"$name:\n${t.exchanges.mkString("\n")}")
    }
    keepsN("q_zorder_layout")
    spark.conf.set(MinPartitionSize, "1")
    try keepsN("q_price_histogram") finally spark.conf.unset(MinPartitionSize)
  }

  test("mix_sample is a pure narrow filter — no exchange before the sort") {
    val df = MixQueries.mixSample.run(spark, sf)
    val exchanges = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    // exactly the one range-partitioning exchange for the output orderBy
    assert(exchanges <= 1, s"sampling should not shuffle:\n$exchanges exchanges")
  }

  test("AQE coalesces over-provisioned shuffle partitions at runtime") {
    // 32+ shuffle partitions declared, tiny data → the executed adaptive
    // plan must read the shuffle through coalesced AQEShuffleRead instead
    // of launching one task per declared partition — the runtime re-plan
    // every operator here relies on at scale
    val df = Relational.q1Agg.run(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("AQEShuffleRead") && finalPlan.contains("coalesced"),
      s"expected AQE-coalesced shuffle read in final plan:\n$finalPlan")
  }

  test("whole-stage codegen covers the argmin projection") {
    // the `*(n)` prefix marks WholeStageCodegen stages in plan toString
    val plan = GeoPipeline.enrichedCore(spark, sf).queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.toLowerCase.contains("nearestzone")),
      s"argmin projection not inside a codegen stage:\n$plan")
  }

  test("q_tpch_q3: all three filters pushed, top-10 as TakeOrdered (no global sort)") {
    val df = graft.queries.AdvancedQueries.qTpchQ3.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(l_shipdate") &&
      plan.contains("LessThan(o_orderdate") &&
      plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"filters not pushed to scans:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 planned as a global sort instead of TakeOrdered:\n$plan")
  }

  test("q_lateral_topn decorrelates to a window top-n, not a nested loop") {
    val df = graft.queries.AdvancedQueries.qLateralTopn.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"no window top-n in:\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"lateral planned as nested loop:\n$plan")
  }

  test("scd2_order_status: one data exchange feeds flag, run-sum, agg, and lead windows") {
    val df = graft.queries.AdvancedQueries.qScd2OrderStatus.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // exactly 2 Exchanges: one hash partitioning on o_custkey for the whole
    // history build + the rangepartitioning for the final output orderBy.
    // Count by node name anywhere on the line (tree branches print as
    // ':- Exchange …' which a startsWith check would miss), excluding reuse
    // markers — ReusedExchange reads an existing shuffle, it doesn't add one.
    val nExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(nExchanges <= 2, s"history build shuffles more than once:\n$plan")
  }

  test("offset pagination agrees with keyset pagination (the scale path)") {
    import org.apache.spark.sql.functions.col
    val offsetPage = graft.queries.AdvancedQueries.qPagination.run(spark, sf).collect()
    assert(offsetPage.length === 20)
    // keyset: the page after the 100th key — pure range predicate, no
    // global ordered prefix
    val lastSeen = graft.Tables.orders(spark, sf)
      .orderBy("o_orderkey").limit(100)
      .agg(org.apache.spark.sql.functions.max("o_orderkey")).collect().head.getLong(0)
    val keysetPage = graft.Tables.orders(spark, sf)
      .where(col("o_orderkey") > lastSeen)
      .select(col("o_orderkey"), col("o_custkey"),
        graft.queries.Q.cents(col("o_totalprice")).as("price_cents"))
      .orderBy("o_orderkey").limit(20).collect()
    assert(offsetPage.map(_.toSeq).toSeq == keysetPage.map(_.toSeq).toSeq)
  }

  test("q_bottomk_sample plans as TakeOrdered, never a global sort") {
    val df = graft.queries.SketchQueries.bottomkSample.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$plan")
  }

  test("q_copurchase_edges expands baskets in-row: generator, no self-join") {
    val df = graft.queries.GraphQueries.copurchaseEdges.run(spark, sf)
    val plan = planString(df)
    assert(plan.contains("Generate"), s"no in-row expansion in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"basket expansion regressed to a join:\n$plan")
  }

  test("q_inverted_index builds postings only for the broadcast top terms") {
    val df = graft.queries.TextQueries.invertedIndex.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"top-term selection not broadcast:\n$plan")
  }

  test("q_cms_heavy_hitters joins counters without shuffling the sketch build twice") {
    val df = graft.queries.SketchQueries.cmsHeavyHitters.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"probe rows not broadcast:\n$plan")
  }

  test("quality_linear_score is in-row model inference: no join, no explode, one sort exchange") {
    val df = graft.queries.TextQueries.qualityLinearScore.run(spark, sf)
    val plan = planString(df)
    assert(!plan.contains("Join"), s"classifier inference must not join:\n$plan")
    assert(!plan.contains("Generate"), s"classifier inference must not explode:\n$plan")
    // the only exchange allowed is the range partitioning of the final orderBy
    val exchanges = "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    assert(exchanges <= 1, s"expected at most the output-order exchange, got $exchanges:\n$plan")
    val readSchema = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan not pruned to doc_id+text: $readSchema")
  }

  test("q_domain_quota aggregates partially map-side — no window sort over the corpus") {
    val df = graft.queries.MixQueries.domainQuota.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"quota must not window-sort the corpus:\n$plan")
    // BoundedTopK is an ObjectHashAggregate: partial before the exchange,
    // final after — the corpus never shuffles, only sources × k state
    val aggs = "ObjectHashAggregate".r.findAllIn(plan).length
    assert(aggs >= 2, s"expected partial+final ObjectHashAggregate, got $aggs:\n$plan")
  }

  test("decontaminate_span probes the benchmark set via broadcast") {
    val df = graft.queries.MixQueries.decontaminateSpan.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set not broadcast:\n$plan")
  }

  test("dedup_ngram_span pairs via equi-join only — no cartesian, no nested loop") {
    val df = graft.queries.DedupQueries.dedupNgramSpan.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"span candidate generation must stay equi-join shaped:\n$plan")
  }

  test("q_markov_transitions: sessionize and both lags share ONE events shuffle") {
    val df = graft.queries.BehaviorQueries.qMarkovTransitions.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the events frame must be exchanged exactly once (hashpartitioning on
    // user_id feeding all window passes); everything after is type×type
    // grain. Allow the small post-agg exchanges, but only ONE hash
    // partitioning over user_id may exist.
    val userExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id") && !l.contains("ReusedExchange"))
    assert(userExchanges == 1, s"expected one user_id shuffle, plan:\n$plan")
  }

  test("q_freq_triples expands baskets in-row: generators, no self-join") {
    val df = graft.queries.BehaviorQueries.qFreqTriples.run(spark, sf)
    val plan = planString(df)
    assert(plan.contains("Generate"), s"no in-row expansion in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"triple expansion regressed to a join:\n$plan")
  }

  test("q_assoc_rules: totals join is broadcast, no cartesian over rule pairs") {
    val df = graft.queries.BehaviorQueries.qAssocRules.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"1-row totals frame not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"rule join degenerated to a cartesian:\n$plan")
  }

  test("recommendations: no broadcast HINT on any user-grain join (r8 verdict 2)") {
    // an explicit broadcast() hint on a per-user frame is an executor OOM
    // at real user cardinality, and AQE cannot override an explicit hint.
    // Runtime size-based broadcast conversion remains allowed — the pin is
    // on the optimized LOGICAL plan's hints, not the adaptive physical plan.
    val plan = graft.queries.GeoPipeline.recommendations.run(spark, sf)
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.nonEmpty)
    val hinted = PlanSpec.hintedUserJoins(plan)
    assert(hinted.isEmpty, s"broadcast hint on a user-grain join: ${hinted.mkString("\n")}")
  }

  test("recommendations_grid_full: equi-join on cell keys, no nested-loop/cartesian") {
    val df = graft.queries.GeoPipeline.recommendationsGridFull.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"full-semantics grid mart must stay an equi-join:\n$plan")
    assert(plan.contains("__clat"), s"cell keys missing from the join:\n$plan")
  }

  test("dedup_embedding_lsh: band-key equi-join, no cartesian/nested-loop (r9 verdict 1)") {
    val df = graft.queries.VectorQueries.dedupEmbeddingLsh.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"embedding near-dup SCALE path must never go all-pairs:\n$plan")
    assert(plan.contains("bkey"), s"band key missing from the candidate join:\n$plan")
  }

  test("wave-21 dedup/sweep queries: no cartesian or nested-loop joins") {
    // the provenance matrix, the threshold sweep, and the inflation report
    // all derive their pair sets from the banded-LSH equi-join — a refactor
    // reintroducing an all-pairs shape must fail here
    for (q <- Seq(graft.queries.DedupQueries.qDedupCrossSource,
        graft.queries.DedupQueries.qJaccardThresholdSweep,
        graft.queries.DedupQueries.qDupInflation)) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      spark.catalog.clearCache()
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"${q.name}: pairwise shape leaked into the plan:\n$plan")
    }
  }

  test("q_jaccard_threshold_sweep: single candidate pass (in-row threshold expansion)") {
    // the sweep must not re-run the candidate join per threshold: exactly
    // one banded self-join (bucketPairs' bk equi-join) in the whole plan
    val plan = graft.queries.DedupQueries.qJaccardThresholdSweep.run(spark, sf)
      .queryExecution.executedPlan.toString
    val bandJoins =
      "(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[bk#".r
        .findAllIn(plan).size
    assert(plan.contains("explode") || plan.contains("Generate"),
      s"threshold expansion missing from the plan:\n$plan")
    assert(bandJoins <= 1, s"candidate join appears $bandJoins times:\n$plan")
  }

  test("sketch windows keep partial top-k pushdown (r8 verdict 4)") {
    // the KMV sites run rn<=K / rn=K filters over window sorts; Spark 4
    // keeps them safe via InferWindowGroupLimit (per-group partial top-k
    // before the exchange) and, for GLOBAL Window.orderBy, by rewriting the
    // limit into TakeOrderedAndProject before the single-partition window.
    // Pin both shapes so a refactor can't silently lose the rn<=K filter
    // and turn these into full-data single-partition sorts.
    val perGroup = graft.queries.SketchQueries.kmvDistinct.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(perGroup.contains("WindowGroupLimit"),
      s"q_kmv_distinct lost WindowGroupLimit pushdown:\n$perGroup")
    Seq(
      "q_kmv_union" -> graft.queries.SketchQueries.kmvUnion,
      "q_kmv_intersect" -> graft.queries.SketchQueries.kmvIntersect,
      "q_join_size_est" -> graft.queries.SketchQueries.joinSizeEst
    ).foreach { case (name, q) =>
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject") || plan.contains("WindowGroupLimit"),
        s"$name lost the bounded-before-window shape:\n$plan")
      // every global (un-partitioned) window must sit above a bounded input,
      // never a full-data global sort
      assert(!plan.contains("Sort [hv"),
        s"$name global-sorts the full hash set before the window:\n$plan")
    }
  }

  test("geo_enrich_partitioned: date window prunes day partitions statically") {
    val df = graft.queries.GeoPipeline.geoEnrichPartitioned.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.nonEmpty, s"no PartitionFilters in scan:\n$plan")
    assert(pf.contains("date") && !pf.replaceAll("\\s", "").contains("PartitionFilters:[]"),
      s"date predicate not in PartitionFilters: $pf\n$plan")
  }

  test("dedup_delta_batch: index probe prunes band shards and broadcast-semi-joins the batch's band keys") {
    // the catalog entry returns a SETTLED frame (its executed plan is an
    // RDD scan), so the pin inspects the LAZY probe plan the settled path
    // materializes — same inputs, same staged index at x1, and an index over
    // StoreScalingSpec's x4 corpus
    import graft.queries.DedupQueries._
    import graft.ops.{DedupOps, Staging}
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val isBatch = col("doc_id") % 5 === 0
    val x4 = Staging.dir("/tmp/graft_plan_spec", sf, "sig_index_x4")
    SignatureIndex.write(DedupOps.signatureIndex(StoreScalingSpec.documents(spark, 4)
        .where(!isBatch), ShingleK, NumPerms, NumBands, RowsPerBand),
      x4, NumPerms, NumBands, RowsPerBand, nParts = TestIndexParts)
    for ((size, indexPath) <- Seq("x1" -> stagedDeltaIndex(spark, sf), "x4" -> x4)) {
      val bs = DedupOps.signatureIndex(
        docs.where(isBatch), ShingleK, NumPerms, NumBands, RowsPerBand).persist()
      val (df, cached) = SignatureIndex.probePlan(
        docs.where(isBatch).select("doc_id"), bs, indexPath,
        JaccardThreshold, nParts = TestIndexParts)
      val plan = df.queryExecution.executedPlan.toString
      (cached :+ bs).foreach(_.unpersist(): Unit)
      // the bands/ scan must carry a band_pt partition filter (shard pruning
      // from the batch's own band keys) — never an unfiltered index scan
      val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
      val bandPf = pf.filter(_.contains("band_pt"))
      assert(bandPf.nonEmpty && !bandPf.exists(_.replaceAll("\\s", "").contains("PartitionFilters:[]")),
        s"$size: bands scan lost its band_pt partition filter:\n${pf.mkString("\n")}\n$plan")
      // the sigs/ verification fetch prunes by doc_pt the same way
      val sigPf = pf.filter(_.contains("doc_pt"))
      assert(sigPf.nonEmpty && !sigPf.exists(_.replaceAll("\\s", "").contains("PartitionFilters:[]")),
        s"$size: sigs scan lost its doc_pt partition filter:\n${pf.mkString("\n")}\n$plan")
      // collided-row selection is a broadcast left-semi — the index is never
      // shuffled to meet the batch
      assert(plan.contains("LeftSemi"), s"$size: no left-semi prune against the index:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$size: non-equi join in delta-dedup plan:\n$plan")
    }
  }

  test("ann_delta_topk: postings probe prunes to the batch's probed cells; queries broadcast") {
    // the catalog entry at x1, and the same search over an index of
    // StoreScalingSpec's x4 corpus
    import graft.queries.VectorQueries.{NProbe, QueryCap, TopK}
    import graft.ops.{IvfIndex, Staging}
    import org.apache.spark.sql.functions.col
    val isBatch = col("vec_id") % 5 === 0
    val x4 = Staging.dir("/tmp/graft_plan_spec", sf, "ivf_x4")
    graft.streaming.StreamingOps.ivfSearchInsertBatch(
      StoreScalingSpec.embeddings(spark, 4).where(!isBatch), x4, batchId = 0L).collect()
    val gd = IvfIndex.resolve(spark, x4)
    val ranked = IvfIndex.rankCells(graft.Tables.embeddings(spark, sf)
      .where(isBatch && col("vec_id") < QueryCap).select("vec_id", "embedding"), gd, NProbe)
    for ((size, df) <- Seq("x1" -> graft.queries.VectorQueries.annDeltaTopk.run(spark, sf),
        "x4" -> IvfIndex.searchPlan(ranked, x4, gd, TopK, exclude = None))) {
      val plan = df.queryExecution.executedPlan.toString
      val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
      val cellPf = pf.filter(_.contains("centroid_id"))
      assert(cellPf.nonEmpty && !cellPf.exists(_.replaceAll("\\s", "").contains("PartitionFilters:[]")),
        s"$size: postings scan lost its centroid_id partition filter:\n${pf.mkString("\n")}\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"$size: probe side not broadcast against the postings scan:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$size: cartesian in the probe path:\n$plan")
    }
  }

  test("q_item_cf: per-item top-5 keeps WindowGroupLimit; pair space never goes cartesian") {
    val plan = graft.queries.BehaviorQueries.qItemCf.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-item rank lost partial top-k pushdown:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in CF pair space:\n$plan")
  }

  test("q_hits_bipartite: equi-joins only; final top-100 is rank-limited") {
    val plan = graft.queries.GraphQueries.hitsBipartite.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in HITS plan:\n$plan")
    assert(plan.contains("WindowGroupLimit") || plan.contains("TakeOrderedAndProject"),
      s"top-100 authority cut lost its bounded shape:\n$plan")
  }

  test("q_concurrency_peak: phase-1 sweep is day-partitioned, not a global sort") {
    val plan = graft.queries.BehaviorQueries.qConcurrencyPeak.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(day"),
      s"sweep-line lost its per-day partitioning — boundary stream would " +
        s"single-partition at scale:\n$plan")
  }

  test("q_cold_start_recs: popularity cross is broadcast; ownership check is an anti-join") {
    val plan = graft.queries.BehaviorQueries.qColdStartRecs.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"ownership filter is not an anti-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"subjects × top-20 must broadcast, not cartesian:\n$plan")
  }

  test("q_rfm_segments: quintile lookups join via broadcast (value-grain, never shuffled)") {
    val plan = graft.queries.BehaviorQueries.qRfmSegments.run(spark, sf)
      .queryExecution.executedPlan.toString
    val nBroadcast = plan.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin")
    assert(nBroadcast >= 3,
      s"expected 3 broadcast quintile-lookup joins, found $nBroadcast:\n$plan")
  }

  test("q_ndcg_mrr: query batch and label histogram broadcast; corpus streams map-side") {
    val plan = graft.queries.VectorQueries.qNdcgMrr.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query batch not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"corpus × queries must broadcast the bounded side:\n$plan")
  }

  test("mm_phash_dedup: codegen aHash + band equi-join, never cartesian") {
    val plan = planString(graft.queries.MultimodalQueries.mmPhashDedup.run(spark, sf))
    assert(plan.toLowerCase.contains("ahash64"), s"fused kernel missing:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"image pair candidates must come from the band equi-join:\n$plan")
  }

  test("q_token_packing_fixed: prefix sum never funnels a source through a Window") {
    val plan = planString(graft.queries.CurationQueries.qTokenPackingFixed.run(spark, sf))
    assert(!plan.contains("Window"),
      s"fixed packing must use the two-pass prefix sum, not a per-key window:\n$plan")
    assert(!plan.contains("Join"), s"packing must not join:\n$plan")
  }

  test("q_gopher_rules: whole battery is one map-side scan (no join, no agg exchange)") {
    val plan = planString(graft.queries.CurationQueries.qGopherRules.run(spark, sf))
    assert(!plan.contains("Join"), s"rule battery must not join:\n$plan")
    // the ONLY exchange allowed is the final presentation sort
    val shuffles = "Exchange (hashpartitioning|SinglePartition)".r
      .findAllIn(plan).size
    assert(shuffles == 0, s"rule battery must not shuffle before the sort:\n$plan")
  }

  test("q_token_packing: one source shuffle feeds the streaming fold; no join") {
    val plan = planString(graft.queries.CurationQueries.qTokenPacking.run(spark, sf))
    assert(!plan.contains("Join"), s"packing must not join:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(source"),
      s"packing must co-locate sources via one hash exchange:\n$plan")
  }

  test("q_corpus_mixture: source counts and min broadcast back; fact scan never re-shuffles for the join") {
    val plan = graft.queries.CurationQueries.qCorpusMixture.run(spark, sf)
      .queryExecution.executedPlan.toString
    val nBroadcast = plan.sliding("Broadcast".length).count(_ == "Broadcast")
    assert(nBroadcast >= 2, s"counts/min must broadcast, not shuffle the facts:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact side must not sort-merge against the tiny source counts:\n$plan")
  }

  test("the planner broadcasts the small TPC-H dims by size, with no hint (sf0.1, plans only)") {
    val dims = Seq("q_revenue_nation" -> Set("nation", "region"),
      "q_tpch_q5" -> Set("nation", "region", "supplier"), "q_tpch_q14" -> Set("part"))
    for ((name, tables) <- dims) {
      val qe = SparkEntry.queries(name)(spark, new java.io.File(sf).getParent + "/sf0.1")
        .queryExecution
      val hints = qe.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }
      assert(hints.isEmpty, s"$name carries a broadcast hint:\n${qe.analyzed}")
      // the tables each broadcast hash join builds from, in the plan AQE starts from
      val built = graft.tools.PlanDump.initialNodes(Seq(qe.executedPlan)).collect {
        case j: BroadcastHashJoinExec =>
          val side = if (j.buildSide == BuildRight) j.right else j.left
          graft.tools.PlanDump.initialNodes(Seq(side)).collect {
            case s: FileSourceScanExec =>
              s.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
          }.flatten
      }.flatten.toSet
      assert(tables.subsetOf(built),
        s"$name does not build a broadcast hash join from ${tables -- built}:\n${qe.executedPlan}")
    }
  }
}

object PlanSpec {
  /** Joins keyed on a user column (user_id / user_left / user_right) that
    * carry a strategy hint — r8 verdict 2 wants none. */
  def hintedUserJoins(plan: LogicalPlan): Seq[Join] = plan.collect {
    case j: Join if j.condition.exists(_.references.exists(a =>
        a.name == "user_id" || a.name == "user_left" || a.name == "user_right")) &&
      (j.hint.leftHint.flatMap(_.strategy).nonEmpty ||
        j.hint.rightHint.flatMap(_.strategy).nonEmpty) => j
  }
}
