package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.ops.DedupOps
import graft.streaming.StreamingOps

/** One small pass over every mutating op of the three persisted stores
  * (signature index, cluster store, IVF index) at sf0.001, recording what
  * each op returned, what it left in the store and what it left behind in
  * the session. The checkpoint-mode and release specs both read it. */
object StoreCycle {

  /** One op: its returned rows (sorted), the store's row counts after it,
    * the RDDs it added to `getPersistentRDDs` that are still there, the
    * id and reliable checkpoint directory of the RDD behind its returned
    * frame (when that frame is settled), and the checkpoint directories it
    * left that are not its returned frame's. */
  final case class Step(op: String, rows: Seq[String], counts: Seq[(String, Long)],
                        persisted: Set[Int], returned: Option[Int],
                        checkpoint: Option[String], strayCheckpoints: Set[String])

  private val Sf = "/root/testdata/sf0.001"

  def run(spark: SparkSession, root: String): Seq[Step] = {
    import spark.implicits._
    val sc = spark.sparkContext

    def rowsIn(path: String, idCol: String): Long =
      if (!new java.io.File(path).exists()) 0L
      else spark.read.schema(s"$idCol BIGINT").parquet(path).count()

    def checkpointDirs(): Set[String] = sc.getCheckpointDir.toSeq.flatMap { d =>
      val dir = new Path(d)
      val fs = dir.getFileSystem(sc.hadoopConfiguration)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.toString)
    }.toSet

    def step(op: String, counts: => Seq[(String, Long)])(body: => Option[DataFrame]): Step = {
      val rdds0 = sc.getPersistentRDDs.keySet.toSet
      val ckpt0 = checkpointDirs()
      val out = body
      val persisted = sc.getPersistentRDDs.keySet.toSet -- rdds0
      val settledRdd = out.map(_.queryExecution.logical)
        .collect { case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd }
      val ownCheckpoint = settledRdd.flatMap(_.getCheckpointFile).map(new Path(_).toString)
      val stray = (checkpointDirs() -- ckpt0).filterNot(ownCheckpoint.contains)
      Step(op, out.toSeq.flatMap(_.collect().map(_.toString)).sorted, counts,
        persisted, settledRdd.map(_.id), ownCheckpoint, stray)
    }

    // signature index
    val index = s"$root/index"
    def indexCounts = Seq("sigs" -> rowsIn(s"$index/sigs", "doc_id"),
      "bands" -> rowsIn(s"$index/bands", "doc_id"),
      "tombstones" -> rowsIn(s"$index/tombstones", "doc_id"))
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val (d1, d2) = docs.splitAt(docs.length / 2)
    val ids1 = d1.map(_._1)
    def ingest(batch: Seq[(Long, String)]) =
      Some(StreamingOps.deltaDedupVerifiedBatch(batch.toDF("doc_id", "text"), index, 0.7))
    val signatureIndex = Seq(
      step("ingest bootstrap", indexCounts)(ingest(d1)),
      step("ingest steady", indexCounts)(ingest(d2)),
      step("forget logical", indexCounts)(
        Some(StreamingOps.forgetBatchLogical(ids1.take(6).toDF("doc_id"), index))),
      // two tombstoned docs come back: purge, un-tombstone, append
      step("ingest re-ingest", indexCounts)(ingest(d1.take(2))),
      step("forget", indexCounts)(
        Some(StreamingOps.forgetBatch(ids1.slice(6, 12).toDF("doc_id"), index))),
      step("compact", indexCounts) {
        DedupOps.compactSignatureIndex(spark, index); None
      })

    // cluster store: {1,2,3} and {4,5} bootstrap, a merge that relabels
    // {4,5} under 1, then forgetting the bridge doc 3 splits them again
    val clusters = s"$root/clusters"
    def clusterCounts = Seq("by_doc" -> rowsIn(s"$clusters/by_doc", "doc_id"),
      "by_cluster" -> rowsIn(s"$clusters/by_cluster", "doc_id"),
      "edges" -> rowsIn(s"$clusters/edges", "id_l"))
    val clusterStore = Seq(
      step("cluster bootstrap", clusterCounts)(Some(DedupOps.mergeClustersBatch(
        Seq(1L, 2L, 3L, 4L, 5L).toDF("id"),
        Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_l", "id_r"), clusters))),
      step("cluster merge", clusterCounts)(Some(DedupOps.mergeClustersBatch(
        Seq(6L).toDF("id"), Seq((3L, 4L), (5L, 6L)).toDF("id_l", "id_r"), clusters))),
      step("cluster forget", clusterCounts)(Some(
        DedupOps.forgetFromClusterStore(Seq(3L).toDF("doc_id"), clusters))))

    // IVF index: bootstrap, a searched insert, a forget, and a re-insert
    // of two forgotten vectors (purge, un-tombstone, insert)
    val ivf = s"$root/ivf"
    def vectors(ids: Seq[Long]) = ids.map(id =>
      (id, Seq.tabulate(16)(k => (((id * 31 + k * 7) % 13) - 6 + 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    def ivfCounts = Seq("postings" -> rowsIn(s"$ivf/g=0/postings", "vec_id"),
      "tombstones" -> rowsIn(s"$ivf/tombstones", "vec_id"))
    val ivfIndex = Seq(
      step("ivf bootstrap", ivfCounts)(Some(
        StreamingOps.ivfSearchInsertBatch(vectors(0L to 29L), ivf, batchId = 1L))),
      step("ivf insert", ivfCounts)(Some(
        StreamingOps.ivfSearchInsertBatch(vectors(30L to 59L), ivf, batchId = 2L))),
      step("ivf forget", ivfCounts)(Some(
        StreamingOps.forgetVectorsBatch(Seq(3L, 5L, 31L).toDF("vec_id"), ivf))),
      step("ivf re-insert", ivfCounts)(Some(
        StreamingOps.ivfSearchInsertBatch(vectors(Seq(3L, 5L)), ivf, batchId = 3L))))

    signatureIndex ++ clusterStore ++ ivfIndex
  }
}
