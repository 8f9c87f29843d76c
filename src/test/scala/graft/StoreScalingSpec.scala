package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions._

import graft.ops.{ClusterStore, DedupOps, IvfIndex, ShardedStore, SignatureIndex, Staging}
import graft.queries.DedupQueries.{JaccardThreshold, NumBands, NumPerms, RowsPerBand, ShingleK}
import graft.queries.VectorQueries.TopK
import graft.streaming.StreamingOps

/** Each persisted store's scaling claim: a batch costs the shards or cells
  * it hits, not the size of the store. Every store is built at sf0.001 at
  * two sizes, x1 and x4 ([[StoreScalingSpec.documents]] /
  * [[StoreScalingSpec.embeddings]]), and one fixed batch runs against
  * both. The evidence does not depend on the host: the files each
  * parquet scan read after partition pruning (its file list and its
  * `numFiles` / `filesSize` metrics, from [[NoopRun.traced]]'s executed
  * plans), the bytes each write command wrote, and the store's own shard
  * and cell listings. Each claim is also checked not to be vacuous: at
  * both sizes the batch's shards or cells are strictly fewer than the
  * store's. */
class StoreScalingSpec extends SparkSpec {
  import StoreScalingSpec._
  import spark.implicits._

  private val NParts = SignatureIndex.IndexParts

  private def staged(leaf: String) = Staging.dir("/tmp/graft_store_scaling", Sf, leaf)

  // one pristine signature index and cluster store per size; a test that
  // mutates one works on a copy
  private lazy val indexes: Map[Int, String] = Sizes.map { r =>
    val p = staged(s"index_x$r")
    SignatureIndex.write(DedupOps.signatureIndex(documents(spark, r),
        ShingleK, NumPerms, NumBands, RowsPerBand),
      p, NumPerms, NumBands, RowsPerBand, nParts = NParts)
    r -> p
  }.toMap

  // five-member chains of consecutive base ids, in every replica
  private lazy val chains: Seq[Seq[Long]] = documents(spark, 1).select("doc_id")
    .collect().map(_.getLong(0)).sorted.grouped(5).filter(_.size == 5).map(_.toSeq).toSeq

  private lazy val clusterStores: Map[Int, String] = Sizes.map { r =>
    val p = staged(s"clusters_x$r")
    val ids = (0 until r).flatMap(i => chains.flatten.map(_ + i * IdStride))
    val pairs = for (i <- 0 until r; c <- chains; Seq(a, b) <- c.sliding(2))
      yield (a + i * IdStride, b + i * IdStride)
    ClusterStore.merge(ids.toDF("id"), pairs.toDF("id_l", "id_r"), p, nParts = NParts)
    spark.catalog.clearCache()
    r -> p
  }.toMap

  private def copyOf(src: String, leaf: String): String = {
    val dst = staged(leaf)
    val walk = Files.walk(new File(src).toPath)
    try walk.forEach { f =>
      val to = new File(dst).toPath.resolve(new File(src).toPath.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(to)
      else Files.copy(f, to, StandardCopyOption.REPLACE_EXISTING): Unit
    } finally walk.close()
    dst
  }

  /** The two lowest base doc ids: present at every size. */
  private lazy val forgetIds: Seq[Long] = chains.flatten.sorted.take(2)

  /** Every scan of `table` in `scans` read only shards in `want`, and at
    * most their files and bytes in `listing`; `want` is a strict, non-empty
    * subset of the table's shards. */
  private def assertReads(scans: Seq[Scan], table: String, ptCol: String,
                          want: Set[Int], listing: Map[Int, Map[String, Long]],
                          replicas: Int): Unit = {
    val of = scans.filter(_.root == table)
    assert(of.nonEmpty, s"x$replicas: no scan of $table")
    assert(want.nonEmpty && want.size < listing.size,
      s"x$replicas: vacuous — the batch hits ${want.size} of ${listing.size} $ptCol shards")
    val wantFiles = want.toSeq.flatMap(listing.getOrElse(_, Map.empty))
    for (s <- of) {
      val read = shardsIn(s.files, ptCol)
      assert(read.subsetOf(want), s"x$replicas: $table read shards ${read -- want} outside $want")
      assert(s.numFiles <= wantFiles.size && s.filesSize <= wantFiles.map(_._2).sum,
        s"x$replicas: $table read ${s.numFiles} files / ${s.filesSize} B, its shards hold " +
          s"${wantFiles.size} / ${wantFiles.map(_._2).sum} B")
    }
  }

  /** The shards whose files changed between two listings. */
  private def rewritten(before: Map[Int, Map[String, Long]],
                        after: Map[Int, Map[String, Long]]): Set[Int] =
    (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))

  test("SignatureIndex.remove reads only the sigs and bands shards its ids hash to, at x1 and x4") {
    for (r <- Sizes) {
      val path = copyOf(indexes(r), s"remove_x$r")
      val sigs = shardFiles(s"$path/sigs", "doc_pt")
      val bands = shardFiles(s"$path/bands", "band_pt")
      val bandPts = spark.read.parquet(s"$path/bands").where(col("doc_id").isin(forgetIds: _*))
        .select("band_pt").distinct().collect().map(_.getInt(0)).toSet
      val NoopRun.Trace(_, plans, _, _) = NoopRun.traced(spark) {
        SignatureIndex.remove(forgetIds.toDF("doc_id"), path,
          NumPerms, NumBands, RowsPerBand, nParts = NParts)
      }
      val ss = scans(plans)
      assertReads(ss, s"$path/sigs", "doc_pt",
        forgetIds.map(ShardedStore.shardOf(_, NParts)).toSet, sigs, r)
      assertReads(ss, s"$path/bands", "band_pt", bandPts, bands, r)
    }
  }

  test("forgetBatchLogical writes no more bytes at x4 than at x1, and rewrites no shard") {
    val written = Sizes.map { r =>
      val path = copyOf(indexes(r), s"logical_x$r")
      def listings = (shardFiles(s"$path/sigs", "doc_pt"), shardFiles(s"$path/bands", "band_pt"))
      val before = listings
      val NoopRun.Trace(_, plans, _, _) = NoopRun.traced(spark) {
        StreamingOps.forgetBatchLogical(forgetIds.toDF("doc_id"), path, nParts = NParts).collect()
      }
      assert(listings == before, s"x$r: a logical forget rewrote store shards")
      // its presence check reads the ids' own sigs shards only
      assertReads(scans(plans), s"$path/sigs", "doc_pt",
        forgetIds.map(ShardedStore.shardOf(_, NParts)).toSet, before._1, r)
      val bytes = writtenBytes(plans)
      assert(bytes > 0L, s"x$r: the logical forget wrote nothing")
      bytes
    }
    assert(written(1) <= written(0) * 1.1,
      s"logical forget wrote ${written(0)} B at x1 and ${written(1)} B at x4")
  }

  test("SignatureIndex.probe reads only its batch's band shards and the collided docs' sigs shards") {
    // two base docs under fresh ids: exact duplicates of their originals,
    // so the batch collides at every size
    val batch = documents(spark, 1).where(col("doc_id").isin(forgetIds: _*))
      .select((col("doc_id") + lit(BatchIdBase)).as("doc_id"), col("text"))
    val batchSigs = DedupOps.signatureIndex(batch, ShingleK, NumPerms, NumBands, RowsPerBand)
      .persist()
    val keys = batchSigs.select(explode(col("bands")).as("bk")).distinct()
    val bandPts = keys.select(ShardedStore.shard(xxhash64(col("bk")), NParts))
      .distinct().collect().map(_.getInt(0)).toSet
    val keyList = keys.collect().map(_.getString(0)).toSeq
    for (r <- Sizes) {
      val path = indexes(r)
      val collided = spark.read.parquet(s"$path/bands").where(col("bk").isin(keyList: _*))
      val docPts = collided.select("doc_id").distinct().collect()
        .map(row => ShardedStore.shardOf(row.getLong(0), NParts)).toSet
      val NoopRun.Trace(verdicts, plans, _, _) = NoopRun.traced(spark) {
        SignatureIndex.probe(batch.select("doc_id"), batchSigs, path, JaccardThreshold,
          nParts = NParts).collect()
      }
      assert(verdicts.length == 2 && verdicts.forall(_.getAs[String]("verdict") == "drop"),
        s"x$r: the duplicates were not matched: ${verdicts.mkString(", ")}")
      val ss = scans(plans)
      assertReads(ss, s"$path/bands", "band_pt", bandPts,
        shardFiles(s"$path/bands", "band_pt"), r)
      assertReads(ss, s"$path/sigs", "doc_pt", docPts, shardFiles(s"$path/sigs", "doc_pt"), r)
    }
    batchSigs.unpersist()
  }

  test("ClusterStore.merge and forget read and rewrite only the affected doc and cluster shards") {
    val tables = Seq("by_doc" -> "doc_pt", "by_cluster" -> "cluster_pt", "edges" -> "edge_pt")
    // merge: link chains 0 and 1, and a new doc into chain 2; forget: the
    // middle members of chains 3 and 4, which splits both
    val merges = Seq((chains(0).head, chains(1).head), (BatchIdBase, chains(2).head))
    val forgets = Seq(chains(3)(2), chains(4)(2))
    for (r <- Sizes; (op, batchIds) <- Seq("merge" -> merges.flatMap(p => Seq(p._1, p._2)),
        "forget" -> forgets)) {
      val path = copyOf(clusterStores(r), s"${op}_x$r")
      val labels = ClusterStore.labels(spark, path)
      val clusters = labels.where(col("doc_id").isin(batchIds: _*))
        .select("cluster_id").distinct().collect().map(_.getLong(0)).toSet
      val docs = batchIds.toSet ++ labels.where(col("cluster_id").isin(clusters.toSeq: _*))
        .select("doc_id").collect().map(_.getLong(0))
      // doc-keyed tables shard by a member; cluster-keyed by an old or a new
      // label, and a new label is a member id
      val docPts = docs.map(ShardedStore.shardOf(_, NParts))
      val want = Map("doc_pt" -> docPts, "edge_pt" -> docPts,
        "cluster_pt" -> (docPts ++ clusters.map(ShardedStore.shardOf(_, NParts))))
      val before = tables.map { case (t, pt) => t -> shardFiles(s"$path/$t", pt) }.toMap
      val NoopRun.Trace(_, plans, _, _) = NoopRun.traced(spark) {
        if (op == "merge")
          ClusterStore.merge(Seq.empty[Long].toDF("id"), merges.toDF("id_l", "id_r"), path,
            nParts = NParts).collect()
        else ClusterStore.forget(forgets.toDF("doc_id"), path, nParts = NParts).collect()
      }
      val ss = scans(plans)
      for ((t, pt) <- tables) {
        val changed = rewritten(before(t), shardFiles(s"$path/$t", pt))
        assert(changed.subsetOf(want(pt)),
          s"x$r $op rewrote $t shards ${changed -- want(pt)} outside ${want(pt)}")
        assertReads(ss, s"$path/$t", pt, want(pt), before(t), r)
      }
      assert(rewritten(before("by_doc"), shardFiles(s"$path/by_doc", "doc_pt")).nonEmpty,
        s"x$r $op rewrote nothing")
    }
  }

  test("IvfIndex.searchPlan reads only its ranked cells' postings files") {
    val queries = embeddings(spark, 1).where(col("vec_id").isin(1L, 2L))
      .select((col("vec_id") + lit(BatchIdBase)).as("vec_id"), col("embedding"))
    for (r <- Sizes) {
      val path = staged(s"ivf_x$r")
      StreamingOps.ivfSearchInsertBatch(embeddings(spark, r), path, batchId = 0L).collect()
      val gd = IvfIndex.resolve(spark, path)
      val postings = s"$gd/postings"
      val listing = shardFiles(postings, "centroid_id")
      val ranked = IvfIndex.rankCells(queries, gd, 2).persist()
      val cells = ranked.select("centroid_id").distinct().collect().map(_.getLong(0).toInt).toSet
      val NoopRun.Trace(hits, plans, _, _) = NoopRun.traced(spark) {
        IvfIndex.searchPlan(ranked, path, gd, TopK, exclude = None).collect()
      }
      assert(hits.length == 2 * TopK, s"x$r: ${hits.length} hits")
      val pruned = scans(plans)
      assertReads(pruned, postings, "centroid_id", cells, listing, r)
      // the same top-k over one unpartitioned copy of the postings, for the
      // pruned/flat byte ratio (stated, not asserted)
      val flat = staged(s"ivf_flat_x$r")
      IvfIndex.postings(spark, gd).coalesce(1).write.mode("overwrite").parquet(flat)
      val NoopRun.Trace(_, flatPlans, _, _) = NoopRun.traced(spark) {
        IvfIndex.cellTopK(spark.read.parquet(flat), ranked, TopK).collect()
      }
      val flatBytes = scans(flatPlans).filter(_.root == flat).map(_.filesSize).sum
      val prunedBytes = pruned.filter(_.root == postings).map(_.filesSize).sum
      info(f"x$r: pruned probe reads $prunedBytes B in ${cells.size} of ${listing.size} cells, " +
        f"a flat scan $flatBytes B (${prunedBytes.toDouble / flatBytes}%.2f×)")
      ranked.unpersist()
    }
  }
}

object StoreScalingSpec {
  val Sf = "/root/testdata/sf0.001"
  val Sizes = Seq(1, 4)

  /** Replica i's ids are shifted by i·IdStride: above every base id, and
    * above [[IvfIndex.CentCap]], so the stride draw picks the base
    * corpus's centroids at every size. */
  val IdStride = 100000000L

  /** Batch ids: above every replica's. */
  val BatchIdBase = 9000000000L

  /** The sf0.001 documents `replicas` times. Replica 0 is the base corpus;
    * replica i has its ids shifted by i·IdStride and every word suffixed
    * `§i`, so replicas are not near-duplicates of each other and each
    * carries the base corpus's band collisions. */
  def documents(spark: SparkSession, replicas: Int): DataFrame = {
    val base = Tables.documents(spark, Sf)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    (0 until replicas).map { i =>
      if (i == 0) base
      else base.select((col("doc_id") + lit(i * IdStride)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1§" + i).as("text"))
    }.reduce(_ unionByName _)
  }

  /** The sf0.001 embeddings `replicas` times, replica i under ids shifted
    * by i·IdStride with every component moved by i·0.001 (distinct
    * vectors: exact copies would dictionary-encode away). */
  def embeddings(spark: SparkSession, replicas: Int): DataFrame = {
    val base = Tables.embeddings(spark, Sf)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    (0 until replicas).map { i =>
      if (i == 0) base
      else base.select((col("vec_id") + lit(i * IdStride)).as("vec_id"),
        transform(col("embedding"), x => (x + lit(i * 0.001f)).cast("float")).as("embedding"))
    }.reduce(_ unionByName _)
  }

  /** One parquet scan of an executed plan: the table directory it read,
    * the files it read and its `numFiles` / `filesSize` metrics. */
  final case class Scan(root: String, files: Seq[String], numFiles: Long, filesSize: Long)

  private def localPath(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Every parquet scan of `plans` ([[NoopRun.nodes]]). */
  def scans(plans: Seq[SparkPlan]): Seq[Scan] = NoopRun.nodes(plans).collect {
    case s: FileSourceScanExec =>
      val files = s.inputRDD match {
        case f: FileScanRDD =>
          f.filePartitions.flatMap(_.files.map(pf => localPath(pf.toPath.toString)))
        case other => sys.error(s"unexpected scan RDD ${other.getClass}")
      }
      Scan(localPath(s.relation.location.rootPaths.head.toString), files,
        s.metrics("numFiles").value, s.metrics("filesSize").value)
  }

  /** Bytes the write commands of `plans` wrote. */
  def writtenBytes(plans: Seq[SparkPlan]): Long = NoopRun.nodes(plans).collect {
    case w: DataWritingCommandExec => w.cmd.metrics("numOutputBytes").value
  }.sum

  /** The shard values `ptCol=K` of `files`' directories. */
  def shardsIn(files: Seq[String], ptCol: String): Set[Int] =
    files.flatMap(f => s"/$ptCol=(-?\\d+)/".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet

  /** A sharded table's parquet files by shard: shard → file path → bytes. */
  def shardFiles(table: String, ptCol: String): Map[Int, Map[String, Long]] = {
    val dirs = Option(new File(table).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith(s"$ptCol="))
    dirs.map { d =>
      val walk = Files.walk(d.toPath)
      val files = try walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.size(f)).toMap
      finally walk.close()
      d.getName.stripPrefix(s"$ptCol=").toInt -> files
    }.toMap
  }
}
