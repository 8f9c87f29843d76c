package graft

import graft.ops.{DedupOps, ShardedStore, SignatureIndex}
import graft.queries.DedupQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the incremental-dedup protocol (dedup_delta_batch): the delta pass
  * against a persisted signature index must produce EXACTLY the verdicts a
  * full-corpus recompute yields, and the index must evolve across batches
  * (append kept docs, dedup the next batch against the grown index) without
  * ever rescanning indexed documents.
  *
  * The independent recompute collects per-doc signature rows (built with
  * the same oracle-proven kernels) and redoes candidate generation, exact
  * Jaccard, and the verdict rule in plain Scala on the driver — no Spark
  * joins/aggregations shared with the code under test.
  */
class IncrementalDedupSpec extends SparkSpec {
  import DedupQueries.{JaccardThreshold, NumBands, NumPerms, RowsPerBand, ShingleK}

  private val dir = "/root/testdata/sf0.001"

  private case class SigRow(id: Long, hs: Set[Long], bands: Seq[String])

  private def collectSigs(docs: DataFrame): Map[Long, SigRow] =
    DedupOps.signatureIndex(docs, ShingleK, NumPerms, NumBands, RowsPerBand)
      .collect()
      .map { r =>
        SigRow(r.getAs[Long]("doc_id"),
          r.getSeq[Long](r.fieldIndex("hs")).toSet,
          r.getSeq[String](r.fieldIndex("bands")))
      }
      .map(s => s.id -> s).toMap

  private def jac(a: Set[Long], b: Set[Long]): Double =
    a.intersect(b).size.toDouble / (a.size + b.size - a.intersect(b).size)

  /** Driver-side reference implementation of the verdict rule: for each
    * batch doc, qualifying partners are indexed docs (any) and smaller-id
    * batch docs, restricted to band-colliding candidates with exact
    * Jaccard ≥ θ; the match is the smallest qualifying partner. */
  private def expectedVerdicts(batchIds: Seq[Long], batch: Map[Long, SigRow],
                               index: Map[Long, SigRow])
      : Map[Long, (String, Long, Long, String)] = {
    val byBand = (batch.values ++ index.values)
      .flatMap(s => s.bands.map(b => b -> s.id))
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).toSet }
    batchIds.map { d =>
      batch.get(d) match {
        case None => d -> (("keep", -1L, -1L, "none"))
        case Some(sd) =>
          val collided = sd.bands.flatMap(byBand.getOrElse(_, Set.empty)).toSet - d
          val partners = collided.filter { p =>
            val qualifies = index.contains(p) || (batch.contains(p) && p < d)
            qualifies && {
              val sp = index.getOrElse(p, batch(p))
              jac(sd.hs, sp.hs) >= JaccardThreshold
            }
          }
          if (partners.isEmpty) d -> (("keep", -1L, -1L, "none"))
          else {
            val m = partners.min
            val sp = index.getOrElse(m, batch(m))
            val je4 = math.round(jac(sd.hs, sp.hs) * 10000)
            d -> (("drop", m, je4, if (index.contains(m)) "corpus" else "batch"))
          }
      }
    }.toMap
  }

  private def verdictMap(df: DataFrame): Map[Long, (String, Long, Long, String)] =
    df.collect().map { r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[String]("verdict"),
        r.getAs[Long]("matched_id"), r.getAs[Long]("matched_jac_e4"),
        r.getAs[String]("matched_in")))
    }.toMap

  test("dedup_delta_batch equals the driver-side full recompute") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val batchIds = docs.where(col("doc_id") % 5 === 0)
      .collect().map(_.getLong(0)).toSeq
    val batch = collectSigs(docs.where(col("doc_id") % 5 === 0))
    val index = collectSigs(docs.where(col("doc_id") % 5 =!= 0))
    val got = verdictMap(DedupQueries.dedupDeltaBatch.run(spark, dir))
    val want = expectedVerdicts(batchIds, batch, index)
    assert(got.keySet == batchIds.toSet)
    assert(got == want)
    // the fixture must exercise all three outcomes or the test is vacuous
    assert(got.values.exists(_._4 == "corpus"), "no corpus-matched drop in fixture")
    assert(got.values.exists(_._1 == "keep"), "no kept doc in fixture")
  }

  test("multi-batch evolution: kept docs append to the index; batch 2 dedups against the grown index") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    def part(m: Int) = docs.where(col("doc_id") % 3 === m)
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "idx")

    val base = DedupOps.signatureIndex(part(0), ShingleK, NumPerms, NumBands, RowsPerBand)
    base.write.mode("overwrite").parquet(indexPath)
    val baseN = spark.read.parquet(indexPath).count()

    // batch 1: dedup, then append ONLY the kept docs' signatures
    val b1Sigs = DedupOps.signatureIndex(part(1), ShingleK, NumPerms, NumBands, RowsPerBand)
    val v1 = DedupOps.dedupDeltaBatch(part(1).select("doc_id"), b1Sigs,
      spark.read.schema(base.schema).parquet(indexPath), JaccardThreshold)
    val kept1 = v1.where(col("verdict") === "keep").select("doc_id")
    b1Sigs.join(kept1, Seq("doc_id"), "left_semi")
      .write.mode("append").parquet(indexPath)
    val keptWithSigs = b1Sigs.join(kept1, Seq("doc_id"), "left_semi").count()
    assert(spark.read.parquet(indexPath).count() == baseN + keptWithSigs)

    // batch 2 against the grown index, vs an independent recompute whose
    // partner set is base ∪ kept(batch 1) ∪ smaller batch-2 ids
    val b2Sigs = DedupOps.signatureIndex(part(2), ShingleK, NumPerms, NumBands, RowsPerBand)
    val v2 = DedupOps.dedupDeltaBatch(part(2).select("doc_id"), b2Sigs,
      spark.read.schema(base.schema).parquet(indexPath), JaccardThreshold)
    val got = verdictMap(v2)

    val kept1Ids = kept1.collect().map(_.getLong(0)).toSet
    val indexRef = collectSigs(part(0)) ++
      collectSigs(part(1)).view.filterKeys(kept1Ids).toMap
    val batch2 = collectSigs(part(2))
    val b2Ids = part(2).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == expectedVerdicts(b2Ids, batch2, indexRef))
  }

  test("pruned partitioned-index probe equals the flat-index delta pass") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val isBatch = col("doc_id") % 5 === 0
    val flat = DedupOps.signatureIndex(
      docs.where(!isBatch), ShingleK, NumPerms, NumBands, RowsPerBand)
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "pruned")
    SignatureIndex.write(flat, indexPath, NumPerms, NumBands, RowsPerBand)
    val bs = DedupOps.signatureIndex(
      docs.where(isBatch), ShingleK, NumPerms, NumBands, RowsPerBand)
    val viaFlat = verdictMap(DedupOps.dedupDeltaBatch(
      docs.where(isBatch).select("doc_id"), bs, flat, JaccardThreshold))
    val viaPruned = verdictMap(SignatureIndex.probe(
      docs.where(isBatch).select("doc_id"), bs, indexPath, JaccardThreshold))
    assert(viaPruned == viaFlat)
    assert(viaPruned.values.exists(_._1 == "drop"), "no dropped doc in fixture")
  }

  test("forget: removal rewrites only affected shards and verdicts match a corpus-minus-forgotten recompute") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val isBatch = col("doc_id") % 5 === 0
    val forgetPred = !isBatch && col("doc_id") % 7 === 1
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "forget")
    SignatureIndex.write(DedupOps.signatureIndex(
      docs.where(!isBatch), ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand)
    SignatureIndex.remove(docs.where(forgetPred).select("doc_id"),
      indexPath, NumPerms, NumBands, RowsPerBand)
    // the index must contain EXACTLY the surviving corpus: no stale
    // payloads, no stale band rows, and nothing else removed
    val survivors = docs.where(!isBatch && !(col("doc_id") % 7 === 1))
    val sigsLeft = spark.read.parquet(s"$indexPath/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sigsLeft == collectSigs(survivors).keySet)
    val bandsLeft = spark.read.parquet(s"$indexPath/bands")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(bandsLeft == sigsLeft)
    // verdicts against the shrunken index == driver recompute over the
    // surviving corpus, and ≠ the unforgotten verdicts (non-vacuous)
    val bs = DedupOps.signatureIndex(
      docs.where(isBatch), ShingleK, NumPerms, NumBands, RowsPerBand)
    val got = verdictMap(SignatureIndex.probe(
      docs.where(isBatch).select("doc_id"), bs, indexPath, JaccardThreshold))
    val batchIds = docs.where(isBatch).collect().map(_.getLong(0)).toSeq
    val want = expectedVerdicts(batchIds, collectSigs(docs.where(isBatch)),
      collectSigs(survivors))
    assert(got == want)
    val unforgotten = expectedVerdicts(batchIds, collectSigs(docs.where(isBatch)),
      collectSigs(docs.where(!isBatch)))
    assert(got != unforgotten,
      "forget set removed no effective partner — fixture makes the test vacuous")
  }

  test("forget is shard-pruned: a small forget set leaves unaffected sigs shards byte-dated") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "pruned_forget")
    SignatureIndex.write(DedupOps.signatureIndex(
      docs, ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand)
    // two forget ids, two doc_pt shards — doc-side pruning must leave the
    // other 30 sigs shards byte-dated (same files, same mtimes). The
    // bands side prunes by band-KEY hash and fans out nBands× per doc, so
    // only the sigs table carries a tight physical pin at this nParts.
    val forgetIds = spark.read.parquet(s"$indexPath/sigs")
      .select("doc_id").orderBy("doc_id").limit(2)
      .collect().map(_.getLong(0)).toSeq
    val affected = forgetIds.map(id => (((id % 32) + 32) % 32).toInt).toSet
    def sigStamps() = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f.getPath -> f.lastModified)
        else Nil
      walk(new java.io.File(s"$indexPath/sigs")).toMap
    }
    val before = sigStamps()
    import spark.implicits._
    SignatureIndex.remove(forgetIds.toDF("doc_id"),
      indexPath, NumPerms, NumBands, RowsPerBand)
    val after = sigStamps()
    def shardOf(path: String): Int =
      "doc_pt=(\\d+)".r.findFirstMatchIn(path).get.group(1).toInt
    val touched = (before.keySet -- after.keySet) ++
      after.collect { case (p, m) if !before.get(p).contains(m) => p }
    assert(touched.nonEmpty, "forget rewrote nothing — vacuous")
    assert(touched.map(shardOf).subsetOf(affected),
      s"forget touched shards ${touched.map(shardOf)} outside the ids' own $affected")
    val untouched = after.count { case (p, m) => before.get(p).contains(m) }
    assert(untouched >= before.size - affected.size,
      s"unaffected shards were rewritten: $untouched of ${before.size} files survived")
  }

  test("compact: crowded shards collapse to one file each; content and verdicts unchanged") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    def part(m: Int) = docs.where(col("doc_id") % 3 === m)
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "compact")
    SignatureIndex.write(DedupOps.signatureIndex(
      part(0), ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand)
    SignatureIndex.write(DedupOps.signatureIndex(
      part(1), ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand, mode = "append")
    def snapshot(table: String) = spark.read.parquet(s"$indexPath/$table")
      .collect().map(_.toString).sorted.toSeq
    def maxFilesPerShard(table: String) = {
      val root = new java.io.File(s"$indexPath/$table")
      root.listFiles().filter(_.isDirectory)
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    }
    val (sigsBefore, bandsBefore) = (snapshot("sigs"), snapshot("bands"))
    assert(maxFilesPerShard("sigs") >= 2, "append produced no crowded shard — vacuous")
    SignatureIndex.compact(spark, indexPath)
    assert(maxFilesPerShard("sigs") == 1 && maxFilesPerShard("bands") == 1)
    assert(snapshot("sigs") == sigsBefore && snapshot("bands") == bandsBefore)
    // probes against the compacted index are verdict-identical
    val bs = DedupOps.signatureIndex(
      part(2), ShingleK, NumPerms, NumBands, RowsPerBand)
    val got = verdictMap(SignatureIndex.probe(
      part(2).select("doc_id"), bs, indexPath, JaccardThreshold))
    val want = expectedVerdicts(
      part(2).select("doc_id").collect().map(_.getLong(0)).toSeq,
      collectSigs(part(2)), collectSigs(docs.where(col("doc_id") % 3 =!= 2)))
    assert(got == want)
  }

  test("manifest: mismatched parameters are rejected before any mutation") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "manifest")
    SignatureIndex.write(DedupOps.signatureIndex(
      docs, ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand)
    assert(SignatureIndex.readManifest(spark, indexPath) ==
      SignatureIndex.IndexManifest(NumPerms, NumBands, RowsPerBand, SignatureIndex.IndexParts))
    val snapshot = spark.read.parquet(s"$indexPath/sigs")
      .collect().map(_.toString).sorted.toSeq
    // wrong nPerm: the forget's recomputed band keys would all be wrong —
    // must throw, and must not have touched the index
    intercept[IllegalArgumentException] {
      SignatureIndex.remove(docs.limit(3).select("doc_id"),
        indexPath, NumPerms / 2, NumBands, RowsPerBand)
    }
    // wrong nParts on the probe: partition filters would miss shards
    val bs = DedupOps.signatureIndex(
      docs.limit(5), ShingleK, NumPerms, NumBands, RowsPerBand)
    intercept[IllegalArgumentException] {
      SignatureIndex.probe(docs.limit(5).select("doc_id"), bs,
        indexPath, JaccardThreshold, nParts = SignatureIndex.IndexParts * 2)
    }
    // wrong params on append: would shard new rows inconsistently
    intercept[IllegalArgumentException] {
      SignatureIndex.write(bs, indexPath,
        NumPerms, NumBands + 1, RowsPerBand, mode = "append")
    }
    assert(spark.read.parquet(s"$indexPath/sigs")
      .collect().map(_.toString).sorted.toSeq == snapshot)
  }

  private def crashRollForward(leaf: String): Unit = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    def part(m: Int) = docs.where(col("doc_id") % 3 === m)
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, leaf)
    SignatureIndex.write(DedupOps.signatureIndex(
      part(0), ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand)
    SignatureIndex.write(DedupOps.signatureIndex(
      part(1), ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand, mode = "append")
    def snapshot(table: String) = spark.read.parquet(s"$indexPath/$table")
      .collect().map(_.toString).sorted.toSeq
    def maxFilesPerShard(table: String) = {
      val root = new java.io.File(s"$indexPath/$table")
      root.listFiles().filter(d => d.isDirectory && !d.getName.startsWith("."))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    }
    val (sigsBefore, bandsBefore) = (snapshot("sigs"), snapshot("bands"))
    assert(maxFilesPerShard("sigs") >= 2, "no crowded shard — vacuous")
    // phase 1 of a compaction, then CRASH before any swap: the staged
    // content sits in dot-prefixed dirs parquet discovery ignores, so the
    // live index reads byte-identical — never observably partial
    def stageAll(): Unit =
      for ((table, ptCol) <- Seq(("sigs", "doc_pt"), ("bands", "band_pt"))) {
        val pts = new java.io.File(s"$indexPath/$table").listFiles()
          .filter(d => d.isDirectory && d.getName.startsWith(s"$ptCol="))
          .map(_.getName.stripPrefix(s"$ptCol=").toInt).toSeq
        val rows = spark.read.parquet(s"$indexPath/$table").where(col(ptCol).isin(pts: _*))
        ShardedStore.stage(rows, ShardedStore.Table(s"$indexPath/$table", ptCol), pts)
      }
    stageAll()
    assert(snapshot("sigs") == sigsBefore && snapshot("bands") == bandsBefore,
      "pre-swap staging leaked into reads")
    assert(maxFilesPerShard("sigs") >= 2, "staging mutated live dirs")
    // crash BEFORE the store-level commit marker: recovery rolls BACK —
    // the staging is discarded, live dirs stay byte-identical (still
    // crowded: the compaction never happened)
    SignatureIndex.recover(spark, indexPath)
    assert(snapshot("sigs") == sigsBefore && snapshot("bands") == bandsBefore)
    assert(maxFilesPerShard("sigs") >= 2,
      "rollback should leave the pre-compaction layout untouched")
    // crash AFTER the marker: recovery rolls FORWARD — content preserved,
    // one file per shard, no staging/backup litter left behind
    stageAll()
    graft.ops.ShardedStore.commit(spark, indexPath)
    SignatureIndex.recover(spark, indexPath)
    assert(snapshot("sigs") == sigsBefore && snapshot("bands") == bandsBefore)
    assert(maxFilesPerShard("sigs") == 1 && maxFilesPerShard("bands") == 1)
    for (t <- Seq("sigs", "bands")) {
      val litter = new java.io.File(s"$indexPath/$t").listFiles()
        .map(_.getName).filter(n => n == ".staging" || n.startsWith(".old."))
      assert(litter.isEmpty, s"$t left ${litter.mkString(",")}")
    }
    // probes against the recovered index are verdict-identical
    val bs = DedupOps.signatureIndex(
      part(2), ShingleK, NumPerms, NumBands, RowsPerBand)
    val got = verdictMap(SignatureIndex.probe(
      part(2).select("doc_id"), bs, indexPath, JaccardThreshold))
    val want = expectedVerdicts(
      part(2).select("doc_id").collect().map(_.getLong(0)).toSeq,
      collectSigs(part(2)), collectSigs(docs.where(col("doc_id") % 3 =!= 2)))
    assert(got == want)
  }

  private def crashMidSwap(leaf: String): Unit = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, leaf)
    SignatureIndex.write(DedupOps.signatureIndex(
      docs, ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand)
    def snapshot() = spark.read.parquet(s"$indexPath/sigs")
      .collect().map(_.toString).sorted.toSeq
    val before = snapshot()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexPath), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val shards = new java.io.File(s"$indexPath/sigs").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("doc_pt="))
      .map(_.getName.stripPrefix("doc_pt=").toInt).sorted.toSeq
    assert(shards.size >= 2, "need >=2 shards for distinct crash states")
    // stage a full self-rewrite and COMMIT (swaps only run post-marker),
    // then simulate the WORST mid-swap crash: shard A renamed aside (live
    // missing, staged+old present) and shard B fully swapped except the
    // backup delete (live new, old present)
    val rows = spark.read.parquet(s"$indexPath/sigs")
    ShardedStore.stage(rows, ShardedStore.Table(s"$indexPath/sigs", "doc_pt"), shards)
    graft.ops.ShardedStore.commit(spark, indexPath)
    val (a, b) = (shards.head, shards(1))
    fs.rename(p(s"$indexPath/sigs/doc_pt=$a"), p(s"$indexPath/sigs/.old.doc_pt=$a"))
    fs.rename(p(s"$indexPath/sigs/doc_pt=$b"), p(s"$indexPath/sigs/.old.doc_pt=$b"))
    fs.rename(p(s"$indexPath/sigs/.staging/doc_pt=$b"), p(s"$indexPath/sigs/doc_pt=$b"))
    SignatureIndex.recover(spark, indexPath)
    assert(snapshot() == before, "forward recovery lost or duplicated rows")
    assert(!fs.exists(p(s"$indexPath/sigs/.staging")))
    // incomplete staging (no _SUCCESS) + one half-swapped shard → ROLLBACK
    // (fresh read: recovery replaced the files behind the earlier plan)
    val rows2 = spark.read.parquet(s"$indexPath/sigs")
    ShardedStore.stage(rows2.limit(1),
      ShardedStore.Table(s"$indexPath/sigs", "doc_pt"), Seq(a))
    fs.delete(p(s"$indexPath/sigs/.staging/_SUCCESS"), false)
    fs.rename(p(s"$indexPath/sigs/doc_pt=$a"), p(s"$indexPath/sigs/.old.doc_pt=$a"))
    SignatureIndex.recover(spark, indexPath)
    assert(snapshot() == before, "rollback did not restore the pre-rewrite state")
    assert(!fs.exists(p(s"$indexPath/sigs/.staging")))
  }

  test("crash-safe rewrite: staging is invisible to readers; recovery rolls a completed staging forward") {
    crashRollForward("crash_fwd")
  }

  test("crash-safe rewrite: mid-swap crash states recover; incomplete staging rolls back") {
    crashMidSwap("crash_mid")
  }

  test("logical forget (tombstones): probe verdicts equal physical removal; purge at compaction converges and clears") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val isBatch = col("doc_id") % 5 === 0
    val forgetPred = !isBatch && col("doc_id") % 7 === 1
    val phys = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "tomb_phys")
    val logi = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "tomb_logi")
    for (p <- Seq(phys, logi))
      SignatureIndex.write(DedupOps.signatureIndex(
        docs.where(!isBatch), ShingleK, NumPerms, NumBands, RowsPerBand),
        p, NumPerms, NumBands, RowsPerBand)
    val forget = docs.where(forgetPred).select("doc_id")
    SignatureIndex.remove(forget, phys, NumPerms, NumBands, RowsPerBand)
    SignatureIndex.tombstone(forget, logi)
    // the tombstone table is tiny — O(|F|), not shards-hit-sized
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(new java.io.File(p))
    }
    assert(dirBytes(s"$logi/tombstones") < dirBytes(s"$logi/sigs") / 10,
      "tombstone table not small relative to the index — logical forget lost its point")
    // probe verdicts: logical == physical == driver recompute
    val bs = DedupOps.signatureIndex(
      docs.where(isBatch), ShingleK, NumPerms, NumBands, RowsPerBand).persist()
    def probe(p: String) = verdictMap(SignatureIndex.probe(
      docs.where(isBatch).select("doc_id"), bs, p, JaccardThreshold))
    val vPhys = probe(phys)
    val vLogi = probe(logi)
    assert(vLogi == vPhys, "tombstoned partners still (or wrongly not) matchable")
    val batchIds = docs.where(isBatch).collect().map(_.getLong(0)).toSeq
    assert(vLogi == expectedVerdicts(batchIds, collectSigs(docs.where(isBatch)),
      collectSigs(docs.where(!isBatch && !forgetPred))))
    // presence excludes tombstoned docs (the receipt semantics)
    assert(SignatureIndex.present(forget, logi).count() == 0)
    // purge: compaction physically removes tombstoned docs, clears the
    // table, and the index files converge to the physical path's content
    SignatureIndex.compact(spark, logi)
    assert(!new java.io.File(s"$logi/tombstones").exists(), "tombstones not cleared")
    def ids(p: String, t: String) = spark.read.parquet(s"$p/$t")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids(logi, "sigs") == ids(phys, "sigs"))
    assert(ids(logi, "bands") == ids(phys, "bands"))
    assert(probe(logi) == vPhys, "post-purge verdicts drifted")
    // idempotent purge debt: a crash between purge and clear replays safely
    SignatureIndex.tombstone(forget, logi) // already-purged ids
    SignatureIndex.compact(spark, logi)
    assert(ids(logi, "sigs") == ids(phys, "sigs") && probe(logi) == vPhys)
    bs.unpersist(): Unit
  }

  test("mid-append crash: duplicated bands rows are verdict-harmless and compaction collapses them") {
    // appendNewToSignatureIndex keys its idempotence probe on sigs, but
    // the append writes bands FIRST: a crash between the two table writes
    // makes the retry re-append the batch's band rows. Pin the documented
    // contract: verdicts are unaffected (candidate joins are semi-joins +
    // distinct pairs), and compaction collapses the duplicates so the
    // index converges back to the crash-free state.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    def part(m: Int) = docs.where(col("doc_id") % 3 === m)
    val crashed = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "append_crash")
    val clean = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "append_clean")
    for (p <- Seq(crashed, clean))
      SignatureIndex.write(DedupOps.signatureIndex(
        part(0), ShingleK, NumPerms, NumBands, RowsPerBand),
        p, NumPerms, NumBands, RowsPerBand)
    val b1 = DedupOps.signatureIndex(
      part(1), ShingleK, NumPerms, NumBands, RowsPerBand).persist()
    SignatureIndex.appendNew(b1, clean, NumPerms, NumBands, RowsPerBand)
    // crashed path: bands land, sigs never do (the exact window), retry
    val nParts = SignatureIndex.IndexParts
    b1.select(col("doc_id"), explode(col("bands")).as("bk"))
      .withColumn("band_pt", pmod(xxhash64(col("bk")), lit(nParts.toLong)).cast("int"))
      .repartition(nParts, col("band_pt"))
      .write.mode("append").partitionBy("band_pt").parquet(s"$crashed/bands")
    SignatureIndex.appendNew(b1, crashed, NumPerms, NumBands, RowsPerBand)
    val b1Bands = b1.select(col("doc_id"), explode(col("bands"))).count()
    assert(b1Bands > 0, "batch produced no band rows — vacuous")
    def cnt(p: String, t: String) = spark.read.parquet(s"$p/$t").count()
    assert(cnt(crashed, "sigs") == cnt(clean, "sigs"),
      "sigs must not duplicate — the probe keys on them")
    assert(cnt(crashed, "bands") == cnt(clean, "bands") + b1Bands,
      "expected exactly one duplicated copy of the batch's band rows")
    // verdicts are identical against the duplicated index
    val b2 = DedupOps.signatureIndex(
      part(2), ShingleK, NumPerms, NumBands, RowsPerBand).persist()
    val viaCrashed = verdictMap(SignatureIndex.probe(
      part(2).select("doc_id"), b2, crashed, JaccardThreshold))
    val viaClean = verdictMap(SignatureIndex.probe(
      part(2).select("doc_id"), b2, clean, JaccardThreshold))
    assert(viaCrashed == viaClean, "bands duplication changed verdicts")
    assert(viaCrashed.values.exists(_._1 == "drop"), "no drop in fixture — weak")
    // compaction settles the debt: content equals the crash-free index
    SignatureIndex.compact(spark, crashed)
    def bandRows(p: String) = spark.read.parquet(s"$p/bands")
      .select("doc_id", "bk").collect().map(_.toString).sorted.toSeq
    assert(bandRows(crashed) == bandRows(clean),
      "compaction did not collapse the duplicated band rows")
    b1.unpersist(); b2.unpersist(): Unit
  }

  test("roll-forward retires EMPTIED shards via the _pts staging manifest") {
    // A forget that removes EVERY doc of one shard stages no dir for it
    // (the replacement is empty) and — before its swap runs — leaves no
    // .old. backup either, so a crash early in phase 2 used to leave the
    // shard's pre-forget content live while recovery reported a clean
    // boundary (r14 advice). The _pts manifest closes it: recovery swaps
    // every listed shard, retiring the emptied one.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "empty_shard")
    SignatureIndex.write(DedupOps.signatureIndex(
      docs, ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexPath), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val shard = new java.io.File(s"$indexPath/sigs").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("doc_pt="))
      .map(_.getName.stripPrefix("doc_pt=").toInt).min
    val forgotten = spark.read.parquet(s"$indexPath/sigs")
      .where(col("doc_pt") === shard).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(forgotten.nonEmpty, "chosen shard empty — vacuous")
    // phase 1 exactly as removeFromSignatureIndex stages it: the kept
    // rows for this shard set are EMPTY, so the staging holds only the
    // shard's empty RETIRE-marker dir (plus the _pts manifest). Commit,
    // then CRASH before any swap.
    val kept = spark.read.parquet(s"$indexPath/sigs")
      .where(col("doc_pt") === shard && lit(false))
    ShardedStore.stage(kept, ShardedStore.Table(s"$indexPath/sigs", "doc_pt"), Seq(shard))
    graft.ops.ShardedStore.commit(spark, indexPath)
    assert(fs.exists(p(s"$indexPath/sigs/doc_pt=$shard")), "live shard gone pre-swap")
    SignatureIndex.recover(spark, indexPath)
    assert(!fs.exists(p(s"$indexPath/sigs/doc_pt=$shard")),
      "emptied shard not retired on roll-forward — forgotten docs stay matchable")
    assert(!fs.exists(p(s"$indexPath/sigs/.staging")))
    val left = spark.read.parquet(s"$indexPath/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(left.intersect(forgotten).isEmpty)
  }

  test("roll-forward never retires a fully-swapped shard (retire markers disambiguate)") {
    // The r15 layout could not tell "this shard's replacement was empty"
    // from "this shard's swap already completed" — both looked like a
    // manifest pt with no staged dir — so re-running the swap after a
    // mid-swap crash RETIRED the completed shard's live content (data
    // loss). The explicit empty-marker staging closes it: a completed
    // shard has NO staged dir and is left alone.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "swapped_keep")
    SignatureIndex.write(DedupOps.signatureIndex(
      docs, ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexPath), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def snapshot() = spark.read.parquet(s"$indexPath/sigs")
      .collect().map(_.toString).sorted.toSeq
    val before = snapshot()
    val shards = new java.io.File(s"$indexPath/sigs").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("doc_pt="))
      .map(_.getName.stripPrefix("doc_pt=").toInt).sorted.toSeq
    assert(shards.size >= 2, "need >=2 shards")
    val rows = spark.read.parquet(s"$indexPath/sigs")
    ShardedStore.stage(rows, ShardedStore.Table(s"$indexPath/sigs", "doc_pt"), shards)
    graft.ops.ShardedStore.commit(spark, indexPath)
    // shard A's swap runs TO COMPLETION (live→old, staged→live, old
    // dropped), then CRASH with the other shards still staged
    val a = shards.head
    fs.rename(p(s"$indexPath/sigs/doc_pt=$a"), p(s"$indexPath/sigs/.old.doc_pt=$a"))
    fs.rename(p(s"$indexPath/sigs/.staging/doc_pt=$a"), p(s"$indexPath/sigs/doc_pt=$a"))
    fs.delete(p(s"$indexPath/sigs/.old.doc_pt=$a"), true)
    SignatureIndex.recover(spark, indexPath)
    assert(fs.exists(p(s"$indexPath/sigs/doc_pt=$a")),
      "recovery retired a fully-swapped shard's live content")
    assert(snapshot() == before, "recovery lost or duplicated rows")
    assert(!fs.exists(p(s"$indexPath/sigs/.staging")))
  }

  test("crash after swap before backup delete: recovery sweeps .old. dirs on both tables") {
    // The last unexercised crash state (r14 verdict #7): a shard fully
    // swapped (staged → live renamed) whose .old. backup delete never
    // ran. Recovery must keep the NEW live content and sweep the backup,
    // on BOTH index tables.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "old_sweep")
    SignatureIndex.write(DedupOps.signatureIndex(
      docs, ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexPath), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def snapshot(table: String) = spark.read.parquet(s"$indexPath/$table")
      .collect().map(_.toString).sorted.toSeq
    val (sigsBefore, bandsBefore) = (snapshot("sigs"), snapshot("bands"))
    for ((table, ptCol) <- Seq(("sigs", "doc_pt"), ("bands", "band_pt"))) {
      val shard = new java.io.File(s"$indexPath/$table").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith(s"$ptCol="))
        .map(_.getName.stripPrefix(s"$ptCol=").toInt).min
      // stage a self-rewrite of this one shard, then run the swap by hand
      // up to (but not including) the backup delete — the exact window
      val rows = spark.read.parquet(s"$indexPath/$table")
        .where(col(ptCol) === shard)
      ShardedStore.stage(rows,
        ShardedStore.Table(s"$indexPath/$table", ptCol), Seq(shard))
      fs.rename(p(s"$indexPath/$table/$ptCol=$shard"),
        p(s"$indexPath/$table/.old.$ptCol=$shard"))
      fs.rename(p(s"$indexPath/$table/.staging/$ptCol=$shard"),
        p(s"$indexPath/$table/$ptCol=$shard"))
      // CRASH: .old. present, staging dir (with _SUCCESS + _pts) present
    }
    graft.ops.ShardedStore.commit(spark, indexPath) // swaps run post-marker
    SignatureIndex.recover(spark, indexPath)
    assert(snapshot("sigs") == sigsBefore && snapshot("bands") == bandsBefore,
      "recovery changed content while sweeping backups")
    for (t <- Seq("sigs", "bands")) {
      val litter = new java.io.File(s"$indexPath/$t").listFiles()
        .map(_.getName).filter(n => n == ".staging" || n.startsWith(".old."))
      assert(litter.isEmpty, s"$t left ${litter.mkString(",")}")
    }
  }

  test("tombstone guard: past the broadcast threshold the probe falls back to a shuffle anti-join, verdicts unchanged; appends fold small files") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val isBatch = col("doc_id") % 5 === 0
    import spark.implicits._
    val indexPath = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "tomb_guard")
    SignatureIndex.write(DedupOps.signatureIndex(
      docs.where(!isBatch), ShingleK, NumPerms, NumBands, RowsPerBand),
      indexPath, NumPerms, NumBands, RowsPerBand)
    // the manifest records the threshold; bootstrap stamps the default
    assert(SignatureIndex.tombstoneBroadcastLimit(spark, indexPath) ==
      SignatureIndex.DefaultTombstoneBroadcastBytes)
    // one forget call per id: each appends a file — the fold must keep
    // the table's file count bounded regardless of call count
    val forgetIds = docs.where(!isBatch && col("doc_id") % 7 === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(forgetIds.size > SignatureIndex.TombstoneFoldMinFiles, "fixture too small")
    forgetIds.foreach(id =>
      SignatureIndex.tombstone(Seq(id).toDF("doc_id"), indexPath))
    val tombFiles = new java.io.File(s"$indexPath/tombstones").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(tombFiles <= SignatureIndex.TombstoneFoldMinFiles,
      s"$tombFiles tombstone files after ${forgetIds.size} appends — fold broken")
    assert(spark.read.parquet(s"$indexPath/tombstones")
      .select("doc_id").as[Long].collect().toSet == forgetIds.toSet,
      "folding changed the tombstone set")
    val batchSigs = DedupOps.signatureIndex(
      docs.where(isBatch), ShingleK, NumPerms, NumBands, RowsPerBand).persist()
    def antiJoinNodes(plan: String): Seq[String] = plan.split("\n")
      .filter(_.contains("LeftAnti")).toSeq
    def probePlan(): (Map[Long, (String, Long, Long, String)], Seq[String]) = {
      val (lazyFrame, cached) = SignatureIndex.probePlan(
        docs.where(isBatch).select("doc_id"), batchSigs, indexPath,
        JaccardThreshold)
      val plan = lazyFrame.queryExecution.executedPlan.toString
      val out = verdictMap(lazyFrame)
      cached.foreach(_.unpersist(): Unit)
      (out, antiJoinNodes(plan))
    }
    // under the default threshold: the tombstone anti-join broadcasts
    val (vBroadcast, antisDefault) = probePlan()
    assert(antisDefault.nonEmpty && antisDefault.forall(_.contains("BroadcastHashJoin")),
      s"expected broadcast anti-join under the threshold:\n${antisDefault.mkString("\n")}")
    // drive the table PAST the (operator-lowered) threshold: the probe
    // must fall back to a non-broadcast anti-join with identical verdicts
    SignatureIndex.setTombstoneBroadcastLimit(spark, indexPath, 1L)
    assert(SignatureIndex.tombstoneBroadcastLimit(spark, indexPath) == 1L)
    val (vShuffle, antisLow) = probePlan()
    assert(antisLow.exists(n => !n.contains("BroadcastHashJoin")),
      s"probe still broadcasts past the threshold:\n${antisLow.mkString("\n")}")
    assert(vShuffle == vBroadcast,
      "the fallback anti-join changed verdicts")
    // and the verdicts match the physically-forgotten world (the logical
    // path's contract survives the fallback)
    assert(vShuffle.values.exists(_._1 == "drop"), "no drop in fixture — weak")
    val phys = graft.ops.Staging.dir("/tmp/graft_dedup_index_spec", dir, "tomb_guard_phys")
    SignatureIndex.write(DedupOps.signatureIndex(
      docs.where(!isBatch), ShingleK, NumPerms, NumBands, RowsPerBand),
      phys, NumPerms, NumBands, RowsPerBand)
    SignatureIndex.remove(forgetIds.toDF("doc_id"), phys,
      NumPerms, NumBands, RowsPerBand)
    val vPhys = verdictMap(SignatureIndex.probe(
      docs.where(isBatch).select("doc_id"), batchSigs, phys, JaccardThreshold))
    assert(vShuffle == vPhys, "fallback verdicts diverged from physical forget")
    batchSigs.unpersist(): Unit
  }

  test("delta pass plans are equi-joins — no cartesian/broadcast-NL against the index") {
    // the catalog entry settles its frame (plan becomes an RDD scan), so
    // the shape pin inspects the lazy probe plan it materializes
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val isBatch = col("doc_id") % 5 === 0
    val indexPath = DedupQueries.stagedDeltaIndex(spark, dir)
    val bs = DedupOps.signatureIndex(
      docs.where(isBatch), ShingleK, NumPerms, NumBands, RowsPerBand)
    val (lazyVerdicts, cached) = SignatureIndex.probePlan(
      docs.where(isBatch).select("doc_id"), bs, indexPath, JaccardThreshold,
      nParts = DedupQueries.TestIndexParts)
    val plan = lazyVerdicts.queryExecution.executedPlan.toString
    cached.foreach(_.unpersist(): Unit)
    assert(!plan.contains("CartesianProduct"), "cartesian in delta-dedup plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "broadcast-NL in delta-dedup plan")
  }

  test("reliable checkpoint mode: the crash-safe rewrite battery recovers " +
      "the same states, checkpointing into its own dir") {
    ReliableCheckpoints(spark, "sig_crash") {
      crashRollForward("crash_fwd_reliable")
      crashMidSwap("crash_mid_reliable")
    }
  }
}
