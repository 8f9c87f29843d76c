package graft.streaming

import graft.ops.IvfIndex
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Crash matrix for the PER-GENERATION tombstone snapshot
  * ([[IvfIndex.refreshCentroids]] copies the index-level deletion
  * vector into the generation it supersedes, under the successor's
  * `_GEN_OK` seal, so a reader pinned to that generation keeps its
  * forget filter after the vector drops — the r16 lookback leak).
  *
  * Invariant pinned here: **snapshot present iff sealed** — a refresh
  * that dies BEFORE sealing leaves snapshot litter in the still-current
  * generation, which recovery must NOT delete (readers run
  * [[IvfIndex.recover]] concurrently with a live refresh — a
  * reader-side delete would race the protocol); instead the two serial
  * WRITER ops that can invalidate it (refresh retry, re-ingest purge)
  * clear it first. A refresh that dies AFTER sealing rolls forward with
  * the superseded generation's snapshot intact. */
class GenTombstoneSnapshotSpec extends SparkSpec {
  import spark.implicits._
  import StreamingOps._

  private val dir = "/root/testdata/sf0.001"

  private lazy val vecs = graft.Tables.embeddings(spark, dir)
    .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)

  private def dfv(xs: Seq[(Long, Seq[Float])]) = xs.toDF("vec_id", "embedding")

  private def copyDir(src: String, dst: String): Unit = {
    val s = new java.io.File(src); val d = new java.io.File(dst)
    if (s.isDirectory) {
      d.mkdirs()
      val cs = s.listFiles(); if (cs != null)
        cs.foreach(c => copyDir(c.getPath, s"$dst/${c.getName}"))
    } else {
      d.getParentFile.mkdirs()
      java.nio.file.Files.copy(s.toPath, d.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  /** index with two inserted batches and a forgotten subset; returns
    * (indexPath, forgotten ids). */
  private def freshForgottenIndex(tag: String): (String, Seq[Long]) = {
    val (b1, b2) = vecs.splitAt(vecs.length / 2)
    val p = java.nio.file.Files.createTempDirectory(s"gts_$tag").toString + "/index"
    ivfSearchInsertBatch(dfv(b1.toSeq), p, batchId = 1L)
    ivfSearchInsertBatch(dfv(b2.toSeq), p, batchId = 2L)
    val gone = b2.map(_._1).filter(_ % 3 == 1).take(6).toSeq
    forgetVectorsBatch(gone.toDF("vec_id"), p): Unit
    (p, gone)
  }

  private def partnerIds(indexPath: String, genDir: String,
                         qs: Seq[(Long, Seq[Float])]): Set[Long] =
    ivfSearchResolved(dfv(qs), indexPath, genDir)
      .select("c_id").collect().map(_.getLong(0)).toSet

  test("crash BEFORE seal: litter tolerated by readers, cleared by the " +
      "re-ingest writer, rewritten by the refresh retry") {
    val (p, gone) = freshForgottenIndex("preseal")
    val g0 = s"$p/g=0"
    // simulate the crash state: snapshot copied into the current
    // generation, successor dir created but never sealed
    copyDir(s"$p/tombstones", s"$g0/tombstones")
    new java.io.File(s"$p/g=1").mkdirs()
    IvfIndex.recover(spark, p)
    assert(!new java.io.File(s"$p/g=1").exists,
      "recovery kept an unsealed generation")
    assert(IvfIndex.currentGeneration(spark, p).contains(0L))
    assert(new java.io.File(s"$g0/tombstones").exists,
      "recovery deleted the snapshot litter — racing a live refresh's " +
        "protocol is exactly what reader-side cleanup would do")
    // reader correctness with the litter in place: snapshot ⊆ live
    // vector, so the union filter equals the live filter
    val qs = vecs.take(24).map { case (id, v) => (id + 3000000L, v) }
    val got = partnerIds(p, g0, qs.toSeq)
    assert(got.nonEmpty && !got.exists(gone.contains))
    // RE-INGEST one forgotten vector: the writer clears the litter first
    // (a stale snapshot would keep filtering the re-admitted id forever)
    val back = gone.head
    val backVec = vecs.find(_._1 == back).get
    ivfSearchInsertBatch(dfv(Seq(backVec)), p, batchId = 10L)
    assert(!new java.io.File(s"$g0/tombstones").exists,
      "re-ingest left the stale snapshot litter in the current generation")
    val probe = Seq((back + 4000000L, backVec._2)) // exact match ⇒ top hit
    val after = partnerIds(p, g0, probe)
    assert(after.contains(back), "re-ingested vector still unmatchable")
    // refresh RETRY: snapshot rewritten from the remaining live vector;
    // the pinned g=0 reader keeps filtering the still-forgotten ids but
    // may surface the re-admitted one
    IvfIndex.refreshCentroids(spark, p)
    assert(new java.io.File(s"$g0/tombstones").exists,
      "refresh retry wrote no snapshot into the superseded generation")
    val pinned = partnerIds(p, g0, qs.toSeq ++ probe)
    assert(!pinned.exists(id => gone.tail.contains(id)),
      "pinned reader surfaced a still-forgotten vector post-refresh")
    assert(pinned.contains(back))
  }

  test("crash AFTER seal, before repoint: rolls forward with the " +
      "superseded generation's snapshot intact") {
    val (p, gone) = freshForgottenIndex("postseal")
    val g0 = s"$p/g=0"
    // simulate: snapshot written, successor fully staged AND sealed,
    // pointer not yet moved, vector not yet dropped
    copyDir(s"$p/tombstones", s"$g0/tombstones")
    copyDir(s"$g0/centroids", s"$p/g=1/centroids")
    copyDir(s"$g0/postings", s"$p/g=1/postings")
    new java.io.File(s"$p/g=1/_GEN_OK").createNewFile()
    IvfIndex.recover(spark, p)
    assert(IvfIndex.currentGeneration(spark, p).contains(1L),
      "recovery did not roll the sealed successor forward")
    assert(new java.io.File(s"$g0/tombstones").exists,
      "roll-forward lost the superseded generation's snapshot")
    val qs = vecs.take(24).map { case (id, v) => (id + 5000000L, v) }
    // pinned reader on g=0: snapshot filters; current reader on g=1:
    // the live vector (never dropped in this crash) filters the rows the
    // simulated refresh did not purge
    val pinned = partnerIds(p, g0, qs.toSeq)
    val cur = partnerIds(p, s"$p/g=1", qs.toSeq)
    assert(pinned.nonEmpty && !pinned.exists(gone.contains))
    assert(cur.nonEmpty && !cur.exists(gone.contains))
  }

  test("many-dir re-ingest purge: one batch purging across dozens of " +
      "(cell, batch) dirs rewrites exactly, retires emptied dirs, and " +
      "re-admits every id") {
    // the r16 purge built a per-dir OR-chain predicate — linear expression
    // growth in touched dirs; now a static rectangle prune + broadcast
    // semi-join on the pair. This drives the widest purge the fixture
    // supports: ids spread over many insert batches, all re-ingested in
    // ONE batch.
    val (b1, rest) = vecs.splitAt(vecs.length / 2)
    val p = java.nio.file.Files.createTempDirectory("gts_many").toString + "/index"
    ivfSearchInsertBatch(dfv(b1.toSeq), p, batchId = 1L)
    val waves = rest.grouped(math.max(1, rest.length / 12)).toSeq
    waves.zipWithIndex.foreach { case (w, i) =>
      ivfSearchInsertBatch(dfv(w.toSeq), p, batchId = 2L + i): Unit }
    val gone = rest.map(_._1) // every post-bootstrap id, across all waves
    forgetVectorsBatch(gone.toSeq.toDF("vec_id"), p): Unit
    val g0 = s"$p/g=0"
    val dirsBefore = spark.read.parquet(s"$g0/postings")
      .where(col("vec_id").isin(gone.toSeq: _*))
      .select("centroid_id", "batch_id").distinct().count()
    assert(dirsBefore >= 24, s"fixture too narrow: only $dirsBefore touched dirs")
    // ONE re-ingest batch triggers the purge across every touched dir
    ivfSearchInsertBatch(dfv(rest.toSeq), p, batchId = 99L)
    val byId = spark.read.parquet(s"$g0/postings")
      .where(col("vec_id").isin(gone.toSeq: _*))
      .groupBy("vec_id").count().collect()
    assert(byId.length == gone.length && byId.forall(_.getLong(1) == 1L),
      "purge left stale rows (or dropped a re-ingested id)")
    assert(spark.read.parquet(s"$g0/postings")
        .where(col("vec_id").isin(gone.toSeq: _*) && col("batch_id") =!= 99L)
        .count() == 0L,
      "stale pre-forget rows survived outside the re-ingest batch dir")
    // emptied dirs retired: no batch dir from the waves holds those ids,
    // and fully-emptied dirs are gone from disk
    val staleDirs = new java.io.File(s"$g0/postings").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).flatMap(_.listFiles())
      .filter(f => f.getName.startsWith("batch_id=") &&
        f.getName != "batch_id=99" && f.getName != "batch_id=1")
      .filter(d => { val fs = d.listFiles(); fs == null || fs.isEmpty })
    assert(staleDirs.isEmpty, s"emptied dirs not retired: ${staleDirs.toSeq}")
    if (new java.io.File(s"$p/tombstones").exists) {
      val left = spark.read.schema(
          org.apache.spark.sql.types.StructType.fromDDL("vec_id BIGINT"))
        .parquet(s"$p/tombstones").count()
      assert(left == 0L, s"re-ingest left $left tombstone rows behind")
    }
  }

  test("real refresh: snapshot present in the superseded generation, " +
      "absent in the new one, index-level vector dropped") {
    val (p, gone) = freshForgottenIndex("clean")
    val g0 = s"$p/g=0"
    IvfIndex.refreshCentroids(spark, p)
    assert(IvfIndex.currentGeneration(spark, p).contains(1L))
    assert(new java.io.File(s"$g0/tombstones").exists)
    assert(!new java.io.File(s"$p/g=1/tombstones").exists,
      "new generation is purged — it must carry no snapshot")
    assert(!new java.io.File(s"$p/tombstones").exists,
      "index-level vector must drop once the debt is settled")
    // the new generation settled the debt PHYSICALLY
    val rows = spark.read.parquet(s"$p/g=1/postings")
      .where(col("vec_id").isin(gone: _*)).count()
    assert(rows == 0L, s"refresh left $rows forgotten posting rows")
  }
}
