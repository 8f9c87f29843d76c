package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.ops.{DedupOps, IvfIndex, SignatureIndex, TextOps, WindowOps}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** THE batch↔stream parity battery (r9 verdict item 6): one parity
  * assertion per streaming twin in [[StreamingOps.batchTwins]], all over
  * the SAME real fixture (sf0.001 events/documents) fed as out-of-order
  * micro-batches. A reflection test pins the registry against
  * StreamingOps' public operator surface, so a new twin cannot land
  * without a registry entry, and the registry/runner equality test makes
  * a registry entry without a parity runner a failure — parity coverage
  * is structurally closed.
  *
  * Individual mechanics (state TTL, late-data drops, restart recovery,
  * watermark edges) stay in StreamingOpsSpec; THIS suite only answers
  * "does the streaming twin reproduce the batch computation on real
  * data?".
  */
class StreamingParitySpec extends SparkSpec {
  import spark.implicits._
  import StreamingOps._

  private val dir = "/root/testdata/sf0.001"
  private val GapUs = 1800000000L // 30 min, the batch q_sessionize gap

  // fixture rows sorted by the repo-wide (ts, event_id) total order
  private lazy val ev: IndexedSeq[(Timestamp, Long, Long, Long, String, Long)] =
    graft.Tables.events(spark, dir)
      .selectExpr("ts", "unix_micros(ts) AS ts_us", "user_id", "event_id",
        "event_type", "CAST(round(value * 100) AS LONG) AS cents")
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5)))
      .sortBy(t => (t._2, t._4)).toIndexedSeq

  private lazy val (evA, evB) = ev.splitAt(ev.length / 2) // time split
  private lazy val sentinelTs =
    new Timestamp(ev.map(_._1.getTime).max + 30L * 86400000L)
  private lazy val sentinelUs = ev.map(_._2).max + 30L * 86400000000L

  private def withRocksDB[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run a streaming DataFrame built from `mk(input)` over the given
    * batches into a memory sink and return the sink table. */
  private def runStream[T: org.apache.spark.sql.Encoder](
      batches: Seq[Seq[T]], mode: OutputMode, name: String)(
      mk: MemoryStream[T] => DataFrame): DataFrame = {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[T]
    val q = mk(input).writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  // ---- registry closure ----------------------------------------------

  private lazy val runners: Map[String, () => Unit] = Map(
    "windowedEventCounts" -> (() => windowedEventCountsParity()),
    "zoneActivityStream" -> (() => zoneActivityParity()),
    "dedupStream" -> (() => dedupStreamParity()),
    "nearDupDedupBatch" -> (() => nearDupParity()),
    "deltaDedupVerifiedBatch" -> (() => deltaDedupVerifiedParity()),
    "clusterMaintainBatch" -> (() => clusterMaintainParity()),
    "clusterForgetBatch" -> (() => clusterForgetParity()),
    "forgetBatch" -> (() => forgetBatchParity()),
    "forgetBatchLogical" -> (() => forgetBatchLogicalParity()),
    "ivfSearchInsertBatch" -> (() => ivfSearchInsertParity()),
    "ivfSearchResolved" -> (() => ivfSearchResolvedParity()),
    "forgetVectorsBatch" -> (() => forgetVectorsParity()),
    "snapshotMaintainBatch" -> (() => snapshotParity()),
    "streamIntervalJoin" -> (() => intervalJoinParity()),
    "sessionWindowCounts" -> (() => sessionWindowParity()),
    "streamStaticEnrich" -> (() => staticEnrichParity()),
    "qualityFilterStream" -> (() => qualityFilterParity()),
    "runningTotals" -> (() => runningTotalsParity()),
    "ewmaStream" -> (() => ewmaParity()),
    "kmvDistinctStream" -> (() => kmvParity()),
    "twapStream" -> (() => twapParity()),
    "sessionize" -> (() => sessionizeParity()),
    "attributedSessions" -> (() => attributedSessionsParity()),
    "funnelStream" -> (() => funnelParity()),
    "spaceSavingTopK" -> (() => spaceSavingParity()))

  test("registry is complete: every public streaming operator has a batch twin entry") {
    val ops = StreamingOps.getClass.getMethods
      .filter(_.getParameterTypes.exists(t => classOf[Dataset[_]].isAssignableFrom(t)))
      .map(_.getName).filterNot(_.contains("$")).toSet
    assert(ops == StreamingOps.batchTwins.keySet,
      s"streaming ops without a twin entry: ${ops -- StreamingOps.batchTwins.keySet}; " +
        s"registry entries without an op: ${StreamingOps.batchTwins.keySet -- ops}")
  }

  test("every registry entry has a parity runner in this battery") {
    assert(runners.keySet == StreamingOps.batchTwins.keySet,
      s"twins without a runner: ${StreamingOps.batchTwins.keySet -- runners.keySet}; " +
        s"runners without a twin: ${runners.keySet -- StreamingOps.batchTwins.keySet}")
  }

  StreamingOps.batchTwins.toSeq.sortBy(_._1).foreach { case (op, twin) =>
    test(s"parity: $op vs $twin") { runners(op)() }
  }

  // ---- runners --------------------------------------------------------

  private def windowedEventCountsParity(): Unit = {
    val batches = Seq(
      evA.map(e => (e._1, e._5)), evB.map(e => (e._1, e._5)),
      Seq((sentinelTs, "___sentinel")))
    val got = runStream(batches, OutputMode.Append, "p_wec")(in =>
      windowedEventCounts(in.toDF().toDF("ts", "event_type"),
        "10 minutes", "1 hour"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = graft.SparkEntry.queries("q_windowed_counts")(spark, dir)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want && want.nonEmpty)
  }

  private def zoneActivityParity(): Unit = {
    val types = ev.map(_._5).distinct.sorted
    def df(rows: Seq[(Timestamp, Long, String)]) = rows.toDF("ts", "zone_id", "event_type")
    val rows = ev.map(e => (e._1, e._3 % 7, e._5))
    val batches = Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2),
      Seq((sentinelTs, -1L, "___sentinel")))
    val got = runStream(batches, OutputMode.Append, "p_zone")(in =>
      zoneActivityStream(in.toDF().toDF("ts", "zone_id", "event_type"),
        types, "10 minutes", "1 hour"))
      .collect().map(_.toSeq.toList).toSet
    // the batch twin IS the same helper on a batch frame (unified plan)
    val want = zoneActivityStream(df(rows), types, "10 minutes", "1 hour")
      .collect().map(_.toSeq.toList).toSet
    assert(got == want && want.nonEmpty)
  }

  private def dedupStreamParity(): Unit = {
    val rows = ev.map(e => (e._1, e._3, e._5))
    val got = runStream(
      Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2)),
      OutputMode.Append, "p_dedup")(in =>
      dedupStream(in.toDF().toDF("ts", "user_id", "event_type"),
        Seq("user_id", "event_type"), "30 days"))
      .collect()
    val gotKeys = got.map(r => (r.getLong(1), r.getString(2))).toSet
    val wantKeys = ev.map(e => (e._3, e._5)).toSet
    assert(got.length == wantKeys.size, "a key emitted more than once")
    assert(gotKeys == wantKeys)
  }

  private def nearDupParity(): Unit = {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (d1, d2) = docs.splitAt(docs.length / 2)
    val store = java.nio.file.Files.createTempDirectory("p_neardup").toString + "/bands"
    val kept1 = nearDupDedupBatch(d1.toSeq.toDF("doc_id", "text"), store)
      .select("doc_id").as[Long].collect().toSet
    val kept2 = nearDupDedupBatch(d2.toSeq.toDF("doc_id", "text"), store)
      .select("doc_id").as[Long].collect().toSet
    // driver replay of the same two-batch fold from batch-computed bands
    val bands = docs.toSeq.toDF("doc_id", "text")
      .withColumn("hs", TextOps.shingleHashes(col("text"), 3))
      .where(size(col("hs")) > 0)
      .withColumn("band", explode(DedupOps.lshBandKeys(
        DedupOps.minhashSignature(col("hs"), 64), 16, 4)))
      .select("doc_id", "band")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, bs) => id -> bs.map(_._2).toSet }
    def fold(batch: Seq[Long], store: Set[String]): (Set[Long], Set[String]) = {
      val inBatch = batch.filter(bands.contains)
      val minPerBand = inBatch.flatMap(id => bands(id).map(_ -> id))
        .groupBy(_._1).map { case (b, ids) => b -> ids.map(_._2).min }
      val kept = inBatch.filter(id =>
        bands(id).forall(b => minPerBand(b) == id) &&
          bands(id).forall(b => !store.contains(b))).toSet
      val keptNoBands = batch.filterNot(bands.contains).toSet // empty-shingle docs pass
      (kept ++ keptNoBands, store ++ kept.flatMap(bands))
    }
    val (w1, store1) = fold(d1.map(_._1).toSeq, Set.empty)
    val (w2, _) = fold(d2.map(_._1).toSeq, store1)
    assert(kept1 == w1 && kept2 == w2)
    assert((w1 ++ w2).nonEmpty && (w1 ++ w2).size < docs.length,
      "fixture produced no near-dups — parity vacuous")
  }

  private def deltaDedupVerifiedParity(): Unit = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (d1, d2) = docs.splitAt(docs.length / 2)
    val indexPath =
      java.nio.file.Files.createTempDirectory("p_deltadedup").toString + "/index"
    val jac = 0.7
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))
    val v1 = deltaDedupVerifiedBatch(d1.toSeq.toDF("doc_id", "text"), indexPath, jac)
      .collect().map(row).toSet
    val v2 = deltaDedupVerifiedBatch(d2.toSeq.toDF("doc_id", "text"), indexPath, jac)
      .collect().map(row).toSet
    // foreachBatch replay contract: a retried batch 2 (its kept sigs
    // already appended) must reproduce its verdicts exactly — the probe
    // excludes the batch's own index rows, so neither self-pairs nor
    // larger-id same-batch docs indexed by the failed attempt qualify —
    // AND must not grow the index: a plain append would duplicate every
    // kept sig/band row per retry, unboundedly
    val sigsN = spark.read.parquet(s"$indexPath/sigs").count()
    val bandsN = spark.read.parquet(s"$indexPath/bands").count()
    val v2r = deltaDedupVerifiedBatch(d2.toSeq.toDF("doc_id", "text"), indexPath, jac)
      .collect().map(row).toSet
    assert(v2r == v2, "replayed batch 2 verdicts diverged")
    assert(spark.read.parquet(s"$indexPath/sigs").count() == sigsN,
      "replayed batch duplicated sigs rows")
    assert(spark.read.parquet(s"$indexPath/bands").count() == bandsN,
      "replayed batch duplicated bands rows")
    // flat-index batch replay: same protocol through dedupDeltaBatch over
    // IN-MEMORY frames — exercises pruned-vs-flat, the on-disk index
    // round-trip, and the append step in one equality
    def sig(xs: Seq[(Long, String)]) = DedupOps.signatureIndex(
      xs.toDF("doc_id", "text"), 3, 64, 16, 4)
    val s1 = sig(d1.toSeq).persist()
    val w1 = DedupOps.dedupDeltaBatch(
      d1.map(_._1).toSeq.toDF("doc_id"), s1, s1.where(lit(false)), jac)
      .collect().map(row).toSet
    val kept1 = w1.collect { case (id, "keep", _, _, _) => id }.toSeq
    val idx = s1.join(kept1.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val w2 = DedupOps.dedupDeltaBatch(
      d2.map(_._1).toSeq.toDF("doc_id"), sig(d2.toSeq), idx, jac)
      .collect().map(row).toSet
    s1.unpersist()
    assert(v1 == w1, "batch-1 (bootstrap) verdicts diverge from flat replay")
    assert(v2 == w2, "batch-2 (probe) verdicts diverge from flat replay")
    assert(v2.exists(_._5 == "corpus"),
      "fixture produced no cross-batch near-dup — parity vacuous")
    assert((v1 ++ v2).exists(_._2 == "keep"), "everything dropped — fixture degenerate")
  }

  private def clusterMaintainParity(): Unit = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (d1, d2) = docs.splitAt(docs.length / 2)
    val root = java.nio.file.Files.createTempDirectory("p_clm").toString
    val indexPath = s"$root/index"; val storePath = s"$root/clusters"
    // two micro-batches through the REAL ingest twin, each batch's
    // verdicts folded into the cluster store
    val edges = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    for (b <- Seq(d1, d2)) {
      val v = deltaDedupVerifiedBatch(b.toSeq.toDF("doc_id", "text"), indexPath, 0.7)
      v.collect().foreach { r =>
        if (r.getLong(2) >= 0) edges += ((r.getLong(0), r.getLong(2)))
      }
      clusterMaintainBatch(v, storePath).count()
    }
    // driver recompute: min-reachable-id union-find over ALL verdict
    // edges, singletons for every doc that produced a verdict
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // every batch doc gets a verdict row (keeps included), so the store
    // must hold exactly the full doc set
    val want = docs.map(_._1).map(id => id -> find(id)).toMap
    val got = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, cluster_id BIGINT, doc_pt INT"))
      .parquet(s"$storePath/by_doc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "cluster store diverged from the union-find recompute")
    assert(want.values.toSet.size < want.size, "no multi-doc cluster — vacuous")
    // replay the second batch end-to-end: verdicts identical (ingest twin
    // contract) and the store unchanged
    val v2r = deltaDedupVerifiedBatch(d2.toSeq.toDF("doc_id", "text"), indexPath, 0.7)
    clusterMaintainBatch(v2r, storePath).count()
    val got2 = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, cluster_id BIGINT, doc_pt INT"))
      .parquet(s"$storePath/by_doc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == want, "replayed batch changed the cluster store")
  }

  private def clusterForgetParity(): Unit = {
    // the full retraction wiring: ingest verdicts fold into the cluster
    // store, then a deletion-request batch retracts from the index AND
    // the store; the store must equal a driver union-find recompute over
    // the SURVIVING verdict edges (forget splits what only the forgotten
    // doc bridged)
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (d1, d2) = docs.splitAt(docs.length / 2)
    val root = java.nio.file.Files.createTempDirectory("p_clf").toString
    val indexPath = s"$root/index"; val storePath = s"$root/clusters"
    val edges = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    for (b <- Seq(d1, d2)) {
      val v = deltaDedupVerifiedBatch(b.toSeq.toDF("doc_id", "text"), indexPath, 0.7)
      v.collect().foreach { r =>
        if (r.getLong(2) >= 0) edges += ((r.getLong(0), r.getLong(2)))
      }
      clusterMaintainBatch(v, storePath).count()
    }
    assert(edges.nonEmpty, "no verdict edges — vacuous")
    // forget every matched PARTNER (guaranteed in a multi-doc cluster)
    // plus an absent id — receipts must distinguish them
    val partners = edges.map(_._2).distinct.sorted.take(3).toSeq
    val absent = docs.map(_._1).max + 99L
    val toForget = partners :+ absent
    forgetBatch(toForget.toDF("doc_id"), indexPath).count()
    val receipt = clusterForgetBatch(toForget.toDF("doc_id"), storePath)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(partners.forall(receipt(_) == true) && receipt(absent) == false,
      s"forget receipt misclassified: $receipt")
    // driver recompute over surviving docs and surviving edges
    val gone = partners.toSet
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.filterNot(e => gone(e._1) || gone(e._2)).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val want = docs.map(_._1).filterNot(gone).map(id => id -> find(id)).toMap
    def byDoc() = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, cluster_id BIGINT, doc_pt INT"))
      .parquet(s"$storePath/by_doc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc() == want,
      "post-forget store diverged from the surviving-edge recompute")
    // replay: all-false receipt, store untouched
    val replay = clusterForgetBatch(toForget.toDF("doc_id"), storePath)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(replay.values.forall(!_), "replayed forget receipt not monotone-safe")
    assert(byDoc() == want, "replayed forget changed the store")
  }

  private def forgetBatchParity(): Unit = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (d1, d2) = docs.splitAt(docs.length / 2)
    val indexPath =
      java.nio.file.Files.createTempDirectory("p_forget").toString + "/index"
    // bootstrap the index from batch 1 through the ingest twin
    deltaDedupVerifiedBatch(d1.toSeq.toDF("doc_id", "text"), indexPath, 0.7)
      .count()
    val indexedBefore = spark.read.parquet(s"$indexPath/sigs")
      .select("doc_id").as[Long].collect().toSet
    // forget set: every 3rd indexed doc PLUS ids that were never indexed
    // (batch-2 ids) — the receipt must distinguish them
    val toForget = indexedBefore.toSeq.sorted.grouped(3).map(_.head).toSeq ++
      d2.take(5).map(_._1)
    val receipt = forgetBatch(toForget.toDF("doc_id"), indexPath)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(receipt.keySet == toForget.toSet)
    assert(receipt.forall { case (id, was) => was == indexedBefore.contains(id) },
      "receipt presence diverged from the pre-removal index content")
    assert(receipt.values.exists(identity) && receipt.values.exists(!_),
      "fixture exercised only one receipt outcome — vacuous")
    // batch-side recompute: the index must now contain exactly the
    // surviving ids, in BOTH tables
    val wantLeft = indexedBefore -- toForget
    val sigsLeft = spark.read.parquet(s"$indexPath/sigs")
      .select("doc_id").as[Long].collect().toSet
    val bandsLeft = spark.read.parquet(s"$indexPath/bands")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(sigsLeft == wantLeft && bandsLeft == wantLeft)
    // at-least-once replay: identical final index, receipt flips to
    // was_indexed=false (the docs are certainly gone)
    val sigsRows = spark.read.parquet(s"$indexPath/sigs").count()
    val bandsRows = spark.read.parquet(s"$indexPath/bands").count()
    val replay = forgetBatch(toForget.toDF("doc_id"), indexPath)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(replay.keySet == toForget.toSet && replay.values.forall(!_))
    assert(spark.read.parquet(s"$indexPath/sigs").count() == sigsRows &&
      spark.read.parquet(s"$indexPath/bands").count() == bandsRows,
      "replayed forget changed the index")
    // the production shape: ONE batch mixing still-indexed, never-indexed,
    // and ALREADY-FORGOTTEN ids — the single pass must report each class
    // correctly (true / false / false) and remove only the indexed ones
    val stillIndexed = wantLeft.toSeq.sorted.take(3)
    val neverIndexed = d2.map(_._1).filterNot(indexedBefore).take(3)
    val alreadyForgotten = toForget.filter(indexedBefore).take(3)
    assert(stillIndexed.nonEmpty && neverIndexed.nonEmpty && alreadyForgotten.nonEmpty,
      "mixed-batch fixture missing a class — vacuous")
    val mixed = stillIndexed ++ neverIndexed ++ alreadyForgotten
    val mixedReceipt = forgetBatch(mixed.toDF("doc_id"), indexPath)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(stillIndexed.forall(mixedReceipt(_) == true) &&
      neverIndexed.forall(mixedReceipt(_) == false) &&
      alreadyForgotten.forall(mixedReceipt(_) == false),
      s"mixed-batch receipt misclassified: $mixedReceipt")
    val afterMixed = spark.read.parquet(s"$indexPath/sigs")
      .select("doc_id").as[Long].collect().toSet
    assert(afterMixed == wantLeft -- stillIndexed,
      "mixed batch removed something outside its indexed class")
    // and the mixed batch replays idempotently: all-false receipt,
    // index row counts pinned
    val (sr, br) = (spark.read.parquet(s"$indexPath/sigs").count(),
      spark.read.parquet(s"$indexPath/bands").count())
    val mixedReplay = forgetBatch(mixed.toDF("doc_id"), indexPath)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(mixedReplay.keySet == mixed.toSet && mixedReplay.values.forall(!_))
    assert(spark.read.parquet(s"$indexPath/sigs").count() == sr &&
      spark.read.parquet(s"$indexPath/bands").count() == br,
      "replayed mixed forget changed the index")
  }

  private def forgetBatchLogicalParity(): Unit = {
    import graft.ops.DedupOps
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (d1, d2) = docs.splitAt(docs.length / 2)
    val phys = java.nio.file.Files.createTempDirectory("p_lforget").toString + "/phys"
    val logi = java.nio.file.Files.createTempDirectory("p_lforget").toString + "/logi"
    for (root <- Seq(phys, logi))
      deltaDedupVerifiedBatch(d1.toSeq.toDF("doc_id", "text"), root, 0.7).count()
    val indexed = spark.read.parquet(s"$phys/sigs")
      .select("doc_id").as[Long].collect().toSet
    // forget: every 3rd indexed id plus synthetic never-indexed ids
    val maxId = docs.map(_._1).max
    val toForget = indexed.toSeq.sorted.grouped(3).map(_.head).toSeq ++
      (1L to 5L).map(maxId + _)
    val rPhys = forgetBatch(toForget.toDF("doc_id"), phys)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val rLogi = forgetBatchLogical(toForget.toDF("doc_id"), logi)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rLogi == rPhys, "logical receipt diverged from the physical twin")
    assert(rLogi.values.exists(identity) && rLogi.values.exists(!_), "one-sided fixture")
    // replayed logical forget: all-false receipt (same monotone contract)
    val rReplay = forgetBatchLogical(toForget.toDF("doc_id"), logi)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rReplay.values.forall(!_))
    // the next ingest micro-batch produces identical verdicts on both
    // paths: tombstoned partners are as unmatchable as removed ones
    def verdicts(root: String) = deltaDedupVerifiedBatch(
      d2.toSeq.toDF("doc_id", "text"), root, 0.7)
      .collect().map(_.toSeq.toList).toSet
    assert(verdicts(logi) == verdicts(phys),
      "post-forget ingest verdicts diverged between logical and physical")
    // purge at compaction converges the FILES to the physical state and
    // clears the tombstone table
    SignatureIndex.compact(spark, logi)
    SignatureIndex.compact(spark, phys)
    def tableIds(root: String, t: String) = spark.read.parquet(s"$root/$t")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(tableIds(logi, "sigs") == tableIds(phys, "sigs"))
    assert(tableIds(logi, "bands") == tableIds(phys, "bands"))
    assert(!new java.io.File(s"$logi/tombstones").exists(),
      "purge left the tombstone table behind")
    // forget → RE-INGEST → probe matches, on BOTH twins (r15 advice):
    // the append path purges a tombstoned id's stale rows and clears its
    // tombstone, so logical ≡ physical at the id level even across a
    // forget-then-re-ingest sequence
    val reIngest = toForget.filter(indexed).take(1)
    val reDocs = docs.filter(d => reIngest.contains(d._1))
    forgetBatchLogical(reIngest.toDF("doc_id"), logi).count()
    forgetBatch(reIngest.toDF("doc_id"), phys)
    val vReL = deltaDedupVerifiedBatch(reDocs.toSeq.toDF("doc_id", "text"), logi, 0.7)
      .collect().map(_.toSeq.toList).toSet
    val vReP = deltaDedupVerifiedBatch(reDocs.toSeq.toDF("doc_id", "text"), phys, 0.7)
      .collect().map(_.toSeq.toList).toSet
    assert(vReL == vReP, "re-ingest verdicts diverged between the twins")
    val presL = SignatureIndex.present(
      reIngest.toDF("doc_id"), logi, nParts = 8).count()
    val presP = SignatureIndex.present(
      reIngest.toDF("doc_id"), phys, nParts = 8).count()
    assert(presL == presP,
      "re-ingested id's presence diverged between logical and physical")
    // a KEPT re-ingested id is matchable again: its tombstone row is gone
    if (vReL.exists(v => v(1) == "keep")) {
      assert(presL == 1, "kept re-ingested id still unmatchable")
      val tombs = spark.read.schema(
          org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT"))
        .parquet(s"$logi/tombstones")
        .select("doc_id").as[Long].collect().toSet
      assert(!tombs.exists(reIngest.contains),
        "re-ingest left the id's tombstone row behind")
    }
    // and the files still converge to the physical state at compaction
    SignatureIndex.compact(spark, logi)
    SignatureIndex.compact(spark, phys)
    assert(tableIds(logi, "sigs") == tableIds(phys, "sigs"),
      "post-re-ingest compaction diverged from the physical twin")
  }

  private def forgetVectorsParity(): Unit = {
    // vector retraction vs a twin index that NEVER saw the forgotten
    // vectors: post-forget searches must be indistinguishable, receipts
    // must classify indexed/absent, replays must be no-ops, and a
    // re-ingest must re-admit (tombstone cleared, stale rows purged)
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val (b1, b2) = vecs.splitAt(vecs.length / 2)
    def dfv(xs: Seq[(Long, Seq[Float])]) = xs.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("p_vforget").toString
    val logi = s"$root/logi"; val twin = s"$root/twin"
    // forget set: inserted batch-2 ids (never centroid seeds — centroids
    // come from batch 1's bootstrap) plus ids never indexed
    val gone = b2.map(_._1).filter(_ % 3 == 1).take(5).toSeq
    val absent = (1L to 3L).map(vecs.map(_._1).max + _)
    assert(gone.nonEmpty)
    ivfSearchInsertBatch(dfv(b1.toSeq), logi, batchId = 1L)
    ivfSearchInsertBatch(dfv(b2.toSeq), logi, batchId = 2L)
    ivfSearchInsertBatch(dfv(b1.toSeq), twin, batchId = 1L)
    ivfSearchInsertBatch(dfv(b2.toSeq.filterNot(v => gone.contains(v._1))),
      twin, batchId = 2L)
    val receipt = forgetVectorsBatch((gone ++ absent).toDF("vec_id"), logi)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(gone.forall(receipt(_) == true) && absent.forall(receipt(_) == false),
      s"vector forget receipt misclassified: $receipt")
    // probes (fresh ids so they insert cleanly on both): hits identical
    val probe = vecs.takeRight(12).map { case (id, v) => (id + 1000000L, v) }
    def hits(rootP: String, bid: Long) = ivfSearchInsertBatch(
      dfv(probe.toSeq), rootP, batchId = bid)
      .collect().map(_.toSeq.toList).toSet
    assert(hits(logi, 9L) == hits(twin, 9L),
      "post-forget search distinguishable from the never-inserted twin")
    assert(hits(logi, 9L).nonEmpty, "probe found nothing — vacuous")
    // replayed forget: all-false receipt (monotone-safe), nothing changes
    val replay = forgetVectorsBatch((gone ++ absent).toDF("vec_id"), logi)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(replay.values.forall(!_))
    // RE-INGEST the forgotten vectors: both twins converge again — the
    // logical index purges the stale rows and clears the tombstones
    val goneVecs = b2.filter(v => gone.contains(v._1))
    ivfSearchInsertBatch(dfv(goneVecs.toSeq), logi, batchId = 10L)
    ivfSearchInsertBatch(dfv(goneVecs.toSeq), twin, batchId = 10L)
    assert(hits(logi, 11L) == hits(twin, 11L),
      "re-ingest left the twins distinguishable")
    val gl = IvfIndex.resolve(spark, logi)
    val logiRows = spark.read.parquet(s"$gl/postings")
      .where(col("vec_id").isin(gone: _*)).count()
    assert(logiRows == gone.size,
      s"expected exactly one posting row per re-ingested id, got $logiRows")
    val tombs = new java.io.File(s"$logi/tombstones")
    if (tombs.exists) {
      val left = spark.read.schema(
          org.apache.spark.sql.types.StructType.fromDDL("vec_id BIGINT"))
        .parquet(tombs.getPath).as[Long].collect().toSet
      assert(!left.exists(gone.contains),
        "re-ingest left the ids' tombstone rows behind")
    }
  }

  private def ivfSearchResolvedParity(): Unit = {
    // the pinned-reader contract: a reader resolved BEFORE a refresh keeps
    // reading a self-consistent (centroids, postings, tombstones) triple —
    // identical hits before and after the refresh drops the index-level
    // deletion vector (the generation-local snapshot takes over), and
    // forgotten vectors never surface on either side of the repoint
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val (b1, b2) = vecs.splitAt(vecs.length / 2)
    def dfv(xs: Seq[(Long, Seq[Float])]) = xs.toDF("vec_id", "embedding")
    val indexPath =
      java.nio.file.Files.createTempDirectory("p_ivfres").toString + "/index"
    ivfSearchInsertBatch(dfv(b1.toSeq), indexPath, batchId = 1L)
    ivfSearchInsertBatch(dfv(b2.toSeq), indexPath, batchId = 2L)
    val gone = b2.map(_._1).filter(_ % 3 == 1).take(8).toSeq
    assert(gone.nonEmpty)
    forgetVectorsBatch(gone.toDF("vec_id"), indexPath): Unit
    val pinned = IvfIndex.resolve(spark, indexPath)
    val queries = vecs.take(24).map { case (id, v) => (id + 2000000L, v) }
    def hitSet(h: org.apache.spark.sql.DataFrame) = h.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val pre = hitSet(ivfSearchResolved(dfv(queries.toSeq), indexPath, pinned))
    assert(pre.nonEmpty, "resolved search found nothing — parity vacuous")
    assert(!pre.exists(h => gone.contains(h._2)),
      "pre-refresh resolved search surfaced a forgotten vector")
    IvfIndex.refreshCentroids(spark, indexPath)
    val cur = IvfIndex.resolve(spark, indexPath)
    assert(cur != pinned, "refresh did not advance the generation")
    assert(!new java.io.File(s"$indexPath/tombstones").exists,
      "refresh left the index-level deletion vector behind")
    assert(new java.io.File(s"$pinned/tombstones").exists,
      "superseded generation got no tombstone snapshot")
    val post = hitSet(ivfSearchResolved(dfv(queries.toSeq), indexPath, pinned))
    assert(post == pre,
      "pinned reader's hits changed across the refresh (lookback leak)")
    val curHits = hitSet(ivfSearchResolved(dfv(queries.toSeq), indexPath, cur))
    assert(!curHits.exists(h => gone.contains(h._2)),
      "refreshed generation still matches a forgotten vector")
    assert(curHits.nonEmpty)
  }

  private def ivfSearchInsertParity(): Unit = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.VectorOps
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val (b1, b2) = vecs.splitAt(vecs.length / 2)
    val indexPath =
      java.nio.file.Files.createTempDirectory("p_ivfsi").toString + "/index"
    def df(xs: Seq[(Long, Seq[Float])]) = xs.toDF("vec_id", "embedding")
    def hitSet(h: org.apache.spark.sql.DataFrame) = h.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val h1 = hitSet(ivfSearchInsertBatch(df(b1.toSeq), indexPath, batchId = 1L))
    val h2 = hitSet(ivfSearchInsertBatch(df(b2.toSeq), indexPath, batchId = 2L))
    assert(h1.isEmpty, "bootstrap batch must search an empty index")
    // foreachBatch replay contract: re-running batch 2 under the same id
    // returns identical hits (its own failed-attempt rows are invisible)
    // and the dynamic overwrite leaves the postings row count unchanged
    def postingsCount() = spark.read.parquet(
      s"${IvfIndex.resolve(spark, indexPath)}/postings").count()
    val postingsN = postingsCount()
    val h2r = hitSet(ivfSearchInsertBatch(df(b2.toSeq), indexPath, batchId = 2L))
    assert(h2r == h2, "replayed batch 2 diverged")
    assert(postingsCount() == postingsN,
      "replay appended duplicate postings")
    // in-memory replay: centroids = stride rule over batch 1; postings
    // after batch 1 = its rn=1 assignments; batch 2 probes its 2 nearest
    // cells and ranks exact cosine over those cells' postings
    val cents = b1.filter(t => t._1 % 41L == 0 && t._1 < 1312L)
      .map(t => (t._1, t._2)).toSeq.toDF("c_id", "c_vec")
    def ranked(xs: Seq[(Long, Seq[Float])], upTo: Int) = {
      val w = Window.partitionBy("q_id").orderBy(col("cs").desc, col("c_id").asc)
      df(xs).select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        .crossJoin(broadcast(cents))
        .withColumn("cs", VectorOps.cosine(col("q_vec"), col("c_vec"), 64))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= upTo)
    }
    val postings1 = ranked(b1.toSeq, 1)
      .select(col("c_id").as("centroid_id"), col("q_id").as("vec_id"),
        col("q_vec").as("embedding"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine_sim").desc, col("vec_id").asc)
    val want2 = hitSet(ranked(b2.toSeq, 2)
      .select(col("q_id"), col("q_vec"), col("c_id").as("centroid_id"))
      .join(postings1, Seq("centroid_id"))
      .withColumn("cosine_sim", VectorOps.cosine(col("q_vec"), col("embedding"), 64))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select(col("q_id"), col("vec_id").as("c_id"),
        col("rank").cast("long").as("rank"),
        round(col("cosine_sim") * 1000000).cast("long").as("cos_e6")))
    assert(h2 == want2)
    assert(h2.nonEmpty, "fixture produced no cross-batch hits — parity vacuous")
  }

  private def snapshotParity(): Unit = {
    val snap = java.nio.file.Files.createTempDirectory("p_snap").toString + "/snap"
    def df(rows: IndexedSeq[(Timestamp, Long, Long, Long, String, Long)]) =
      rows.map(e => (e._3, e._3 % 4, e._4, e._5, e._6))
        .toDF("user_id", "part", "event_id", "event_type", "cents")
    snapshotMaintainBatch(df(evA), snap, Seq("user_id"), Seq("part"), "event_id")
    snapshotMaintainBatch(df(evB), snap, Seq("user_id"), Seq("part"), "event_id")
    val got = spark.read.parquet(snap)
      .select("user_id", "event_id", "event_type", "cents")
      .collect().map(_.toSeq.toList).toSet
    val want = WindowOps.latestPerKey(df(ev), Seq("user_id"), Seq(col("event_id")))
      .select("user_id", "event_id", "event_type", "cents")
      .collect().map(_.toSeq.toList).toSet
    assert(got == want && want.nonEmpty)
  }

  private def intervalJoinParity(): Unit = {
    implicit val sc = spark.sqlContext
    val views = ev.filter(_._5 == "view").map(e => (e._1, e._3))
    val clicks = ev.filter(_._5 == "click").map(e => (e._1, e._3))
    val inL = MemoryStream[(Timestamp, Long)]
    val inR = MemoryStream[(Timestamp, Long)]
    val joined = streamIntervalJoin(
      inL.toDF().toDF("ts", "user_id"), inR.toDF().toDF("ts", "user_id"),
      Seq("user_id"), "ts", "ts", "30 days", "30 minutes")
    val q = joined.writeStream.format("memory").queryName("p_ij")
      .outputMode(OutputMode.Append).start()
    try {
      inL.addData(views.take(views.length / 2): _*)
      inR.addData(clicks.take(clicks.length / 2): _*)
      q.processAllAvailable()
      inL.addData(views.drop(views.length / 2): _*)
      inR.addData(clicks.drop(clicks.length / 2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("p_ij")
      .select("user_id", "ts", "r_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      .sortBy(t => (t._1, t._2.getTime, t._3.getTime)).toSeq
    val want = views.toDF("ts", "user_id").alias("l")
      .join(clicks.toDF("r_ts", "r_user_id").alias("r"),
        col("user_id") === col("r_user_id") &&
          col("r_ts") >= col("ts") &&
          col("r_ts") <= col("ts") + expr("INTERVAL 30 minutes"))
      .select("user_id", "ts", "r_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      .sortBy(t => (t._1, t._2.getTime, t._3.getTime)).toSeq
    assert(got == want && want.nonEmpty)
  }

  private def sessionWindowParity(): Unit = {
    val rows = ev.map(e => (e._1, e._3))
    val batches = Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2),
      Seq((sentinelTs, -1L)))
    val got = runStream(batches, OutputMode.Append, "p_sw")(in =>
      sessionWindowCounts(in.toDF().toDF("ts", "user_id"),
        "30 minutes", "10 minutes"))
      .where(col("user_id") >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    val want = graft.SparkEntry.queries("q_session_window_sql")(spark, dir)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    assert(got == want && want.nonEmpty)
  }

  private def staticEnrichParity(): Unit = {
    val dim = ev.map(_._5).distinct.sorted.zipWithIndex
      .map { case (t, i) => (t, i.toLong) }.toDF("event_type", "type_idx")
    val rows = ev.map(e => (e._4, e._5))
    val got = runStream(
      Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2)),
      OutputMode.Append, "p_enrich")(in =>
      streamStaticEnrich(in.toDF().toDF("event_id", "event_type"),
        dim, Seq("event_type")))
      .select("event_id", "type_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = rows.toDF("event_id", "event_type")
      .join(dim, Seq("event_type"), "left")
      .select("event_id", "type_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.size == ev.length)
  }

  private def qualityFilterParity(): Unit = {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = runStream(
      Seq(docs.take(docs.length / 2), docs.drop(docs.length / 2)),
      OutputMode.Append, "p_qual")(in =>
      qualityFilterStream(in.toDF().toDF("doc_id", "text")))
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = qualityFilterStream(docs.toDF("doc_id", "text"))
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty && want.size < docs.length)
  }

  private def runningTotalsParity(): Unit = withRocksDB {
    val rows = ev.map(e => KeyedValue(e._3, e._6))
    val got = runStream(
      Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2)),
      OutputMode.Update, "p_rt")(in => runningTotals(in.toDS()).toDF())
      .as[RunningTotal].collect()
      .groupBy(_.user_id).map { case (k, rs) => k -> rs.maxBy(_.n) }
    val want = ev.groupBy(_._3).map { case (u, es) =>
      u -> RunningTotal(u, es.length.toLong, es.map(_._6).sum)
    }
    assert(got == want && want.nonEmpty)
  }

  private def ewmaParity(): Unit = withRocksDB {
    val rows = ev.map(e => KeyedValue(e._3, e._6))
    val got = runStream(
      Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2)),
      OutputMode.Update, "p_ewma")(in => ewmaStream(in.toDS()).toDF())
      .as[EwmaOut].collect()
      .groupBy(_.user_id).map { case (k, rs) => k -> rs.maxBy(_.n) }
    val want = ev.groupBy(_._3).map { case (u, es) =>
      // binary-decay fold in the same (ts, event_id) order the stream feeds
      val s = es.sortBy(e => (e._2, e._4)).map(_._6)
        .foldLeft(0L)((acc, v) => v * 128 + (acc >> 1))
      u -> EwmaOut(u, es.length.toLong, s)
    }
    assert(got == want && want.nonEmpty)
  }

  private def kmvParity(): Unit = withRocksDB {
    val K = 8
    val P = graft.ops.HashOps.P
    def h(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:skmv".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % P
    }
    val rows = ev.map(e => KeyedHash(e._5, h(e._3)))
    val got = runStream(
      Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2)),
      OutputMode.Update, "p_kmv")(in => kmvDistinctStream(in.toDS(), K, P).toDF())
      .as[KmvOut].collect()
      .groupBy(_.k).map { case (k, rs) => k -> rs.maxBy(_.n_held) }
    val want = ev.groupBy(_._5).map { case (t, es) =>
      val merged = es.map(e => h(e._3)).distinct.sorted.take(K)
      val est = if (merged.length < K) merged.length.toLong
                else (K - 1).toLong * P / merged.last
      t -> KmvOut(t, merged.length.toLong, est)
    }
    assert(got == want && want.nonEmpty)
  }

  private def twapParity(): Unit = withRocksDB {
    val rows = ev.map(e => TwapEvent(e._3, e._2, e._4, e._6))
    val got = runStream(
      Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2)),
      OutputMode.Update, "p_twap")(in => twapStream(in.toDS()).toDF())
      .as[TwapOut].collect()
      .groupBy(_.user_id).map { case (k, rs) => k -> rs.maxBy(_.n_holds) }
      .filter(_._2.n_holds > 0)
    val want = graft.SparkEntry.queries("q_twap")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        TwapOut(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want && want.nonEmpty)
  }

  private def sessionizeParity(): Unit = {
    val rows = ev.map(e => UserEvent(e._3, e._2))
    val sentinels = ev.map(_._3).distinct.map(u => UserEvent(u, sentinelUs))
    val got = runStream(
      Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2), sentinels),
      OutputMode.Append, "p_sess")(in => sessionize(in.toDS(), GapUs).toDF())
      .as[ClosedSession].collect()
      .map(s => (s.user_id, s.start_us, s.end_us, s.n_events)).toSet
    val want = WindowOps.sessionize(graft.Tables.events(spark, dir),
      Seq("user_id"), "ts", Seq(col("ts"), col("event_id")), GapUs)
      .groupBy("user_id", "session_idx")
      .agg(min(unix_micros(col("ts"))).as("s"), max(unix_micros(col("ts"))).as("e"),
        count(lit(1)).as("n"))
      .select("user_id", "s", "e", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want && want.nonEmpty)
    // q_sessionize parity at the per-user grain, via the catalog query
    val counts = got.groupBy(_._1).map { case (u, ss) =>
      (u, ss.size.toLong, ss.toSeq.map(_._4).sum) }.toSet
    val qWant = graft.SparkEntry.queries("q_sessionize")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(counts == qWant)
  }

  private def attributedSessionsParity(): Unit = {
    val rows = ev.map(e => TypedEvent(e._3, e._2, e._5))
    val sentinels = ev.map(_._3).distinct
      .map(u => TypedEvent(u, sentinelUs, "___sentinel"))
    val got = runStream(
      Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2), sentinels),
      OutputMode.Append, "p_attr")(in =>
      attributedSessions(in.toDS(), GapUs).toDF())
      .as[AttributedSession].collect()
      .map(s => (s.user_id, s.start_us, s.end_us, s.n_events, s.first_type,
        s.converted)).toSet
    val want = WindowOps.sessionize(graft.Tables.events(spark, dir),
      Seq("user_id"), "ts", Seq(col("ts"), col("event_id")), GapUs)
      .groupBy("user_id", "session_idx")
      .agg(min(unix_micros(col("ts"))).as("s"), max(unix_micros(col("ts"))).as("e"),
        count(lit(1)).as("n"),
        min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("ft"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("cv"))
      .select("user_id", "s", "e", "n", "ft", "cv")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5) == 1L)).toSet
    assert(got == want && want.nonEmpty)
  }

  private def spaceSavingParity(): Unit = withRocksDB {
    // k = 8 ≥ |event types| ⇒ the sketch is exact: est == batch count,
    // max_err == 0 for every (user, type)
    val rows = ev.map(e => SSEvent(e._3, e._2, e._4, e._5))
    val sink = runStream(
      Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2)),
      OutputMode.Update, "p_spacesaving")(in =>
      spaceSavingTopK(in.toDS(), 8).toDF())
      .as[SSOut].collect()
    val got = sink.groupBy(_.user_id).toSeq.flatMap { case (u, rs) =>
      val last = rs.map(_.n_seen).max
      rs.filter(_.n_seen == last).map(r => ((u, r.item), (r.est, r.max_err)))
    }.toMap
    val batch = ev.groupBy(e => (e._3, e._5)).map { case (k, rs) => k -> rs.size.toLong }
    assert(batch.nonEmpty && got.size == batch.size)
    batch.foreach { case (k, n) =>
      assert(got(k) == ((n, 0L)), s"$k: sketch ${got(k)} != exact $n")
    }
  }

  private def funnelParity(): Unit = withRocksDB {
    val rows = ev.map(e => FunnelEvent(e._3, e._2, e._4, e._5))
    val got = runStream(
      Seq(rows.take(ev.length / 2), rows.drop(ev.length / 2)),
      OutputMode.Update, "p_funnel")(in =>
      funnelStream(in.toDS(), 7L * 86400000000L).toDF())
      .as[FunnelLevel].collect()
      .groupBy(_.user_id).map { case (_, rs) => rs.maxBy(_.level).level }.toSeq
    val batch = graft.SparkEntry.queries("q_window_funnel")(spark, dir)
      .collect().head
    assert(got.count(_ >= 1) == batch.getAs[Long]("n_view"))
    assert(got.count(_ >= 2) == batch.getAs[Long]("n_then_click"))
    assert(got.count(_ >= 3) == batch.getAs[Long]("n_then_purchase"))
    assert(batch.getAs[Long]("n_then_click") > 0)
  }
}
