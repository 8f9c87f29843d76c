package graft.streaming

import graft.ops.IvfIndex
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the generation-versioned IVF index layout: a probe that resolved
  * the index before a [[IvfIndex.refreshCentroids]] keeps reading
  * exactly one consistent (centroids, postings) generation — untouched by
  * the refresh — while a probe resolving after sees only the refreshed
  * pair (zero-downtime refresh); and every crash point of the
  * refresh/pointer protocol recovers to a consistent boundary at open.
  */
class IvfGenerationSpec extends SparkSpec {
  import StreamingOps._
  import spark.implicits._

  private val Dim = 64

  private def vec(id: Long, axis: Int): Seq[Float] = {
    val rnd = new java.util.Random(7L * id + axis)
    val raw = Array.tabulate(Dim)(j =>
      (if (j == axis) 1.0 else 0.0) + 0.25 * rnd.nextGaussian())
    val n = math.sqrt(raw.map(x => x * x).sum)
    raw.map(x => (x / n).toFloat).toSeq
  }

  private lazy val corpus = (0L until 200L).map(i => (i, vec(i, (i % 4).toInt)))
  private lazy val batch = (200L until 260L).map(i => (i, vec(i, 10)))

  private def freshIndex(): String = {
    val root = java.nio.file.Files.createTempDirectory("ivf_gen").toString + "/index"
    ivfSearchInsertBatch(corpus.toDF("vec_id", "embedding"), root, batchId = 0L)
    ivfSearchInsertBatch(batch.toDF("vec_id", "embedding"), root, batchId = 1L)
    root
  }

  private def fsOf(path: String) = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
  private def p(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Deterministic probe result computed from ONE resolved generation
    * dir — brute cosine over its postings for a fixed query. */
  private def probeFrom(genDir: String): Seq[(Long, Long)] = {
    import graft.ops.VectorOps
    val q = Seq((9999L, vec(9999L, 10))).toDF("q_id", "q_vec")
    spark.read.parquet(s"$genDir/postings")
      .crossJoin(broadcast(q))
      .withColumn("cs", VectorOps.cosine(col("q_vec"), col("embedding")))
      .orderBy(col("cs").desc, col("vec_id").asc).limit(5)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("every postings file carries a vec_id bloom filter sized to its rows") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val root = java.nio.file.Files.createTempDirectory("ivf_bloom").toString
    graft.StoreCycle.run(spark, root)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "ivf"))
    val files = try walk.iterator().asScala.map(_.toString)
      .filter(f => f.contains("/postings/") && f.endsWith(".parquet")).toList
    finally walk.close()
    assert(files.nonEmpty)
    for (f <- files) {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(p(f), spark.sparkContext.hadoopConfiguration))
      val blooms = try reader.getFooter.getBlocks.asScala.toSeq
        .flatMap(_.getColumns.asScala).filter(_.getPath.toDotString == "vec_id")
        .map(_.getBloomFilterOffset)
      finally reader.close()
      assert(blooms.nonEmpty && blooms.forall(_ >= 0), s"$f: no vec_id bloom filter")
      val bytes = java.nio.file.Files.size(java.nio.file.Paths.get(f))
      assert(bytes < 128 * 1024, s"$f: $bytes bytes")
    }
  }

  test("zero-downtime refresh: a pre-refresh reader keeps its consistent generation; a post-refresh reader sees the new one") {
    val root = freshIndex()
    val before = IvfIndex.resolve(spark, root)
    val hitsBefore = probeFrom(before)
    val centsBefore = spark.read.parquet(s"$before/centroids")
      .collect().map(_.toString).sorted.toSeq
    IvfIndex.refreshCentroids(spark, root)
    // the pre-refresh reader's generation is byte-for-byte still there:
    // same probe results, same centroids — one CONSISTENT pair
    assert(probeFrom(before) == hitsBefore,
      "refresh mutated the generation a concurrent reader had resolved")
    assert(spark.read.parquet(s"$before/centroids")
      .collect().map(_.toString).sorted.toSeq == centsBefore)
    // a new reader resolves the refreshed generation; postings and
    // centroids agree (every posting's cell exists) — consistency is
    // structural, not a race
    val after = IvfIndex.resolve(spark, root)
    assert(after != before)
    val orphan = spark.read.parquet(s"$after/postings")
      .select("centroid_id").distinct()
      .join(spark.read.parquet(s"$after/centroids")
        .select(col("c_id").as("centroid_id")), Seq("centroid_id"), "left_anti")
      .count()
    assert(orphan == 0, "refreshed generation is internally inconsistent")
    // content carried over exactly (ids + batch stamps)
    def content(gd: String) = spark.read.parquet(s"$gd/postings")
      .select(col("vec_id"), col("batch_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(content(after) == content(before))
  }

  test("a second refresh prunes only generations older than the predecessor") {
    val root = freshIndex()
    IvfIndex.refreshCentroids(spark, root) // g=0 -> g=1 (g=0 kept as lookback)
    IvfIndex.refreshCentroids(spark, root) // g=1 -> g=2 (g=0 pruned, g=1 kept)
    val gens = new java.io.File(root).listFiles().map(_.getName)
      .filter(_.startsWith("g=")).sorted.toSeq
    assert(gens == Seq("g=1", "g=2"), s"unexpected generations: $gens")
    assert(IvfIndex.resolve(spark, root).endsWith("g=2"))
  }

  test("crash before seal: an unsealed new generation is discarded; the live one is untouched") {
    val root = freshIndex()
    val live = IvfIndex.resolve(spark, root)
    val hits = probeFrom(live)
    // simulate IvfIndex.refreshCentroids dying mid-write: a partial g=1 with no
    // _GEN_OK (content irrelevant — recovery must not read it)
    fsOf(root).mkdirs(p(s"$root/g=1/postings"))
    val resolved = IvfIndex.resolve(spark, root) // runs recovery
    assert(resolved == live, "recovery moved the pointer to an unsealed generation")
    assert(!fsOf(root).exists(p(s"$root/g=1")), "unsealed generation not discarded")
    assert(probeFrom(live) == hits)
  }

  test("crash between seal and repoint: a sealed generation rolls FORWARD at open") {
    val root = freshIndex()
    IvfIndex.refreshCentroids(spark, root) // creates sealed g=1, pointer -> 1
    // rewind the pointer to 0, simulating a crash after _GEN_OK landed
    // but before the repoint
    val fs = fsOf(root)
    fs.delete(p(s"$root/_gen"), false)
    val out = fs.create(p(s"$root/_gen"), true)
    out.write("0".getBytes("UTF-8")); out.close()
    val resolved = IvfIndex.resolve(spark, root)
    assert(resolved.endsWith("g=1"),
      s"sealed generation not rolled forward: resolved $resolved")
    // the superseded generation survives as the lookback
    assert(fs.exists(p(s"$root/g=0/centroids")))
  }

  test("crash inside the pointer rewrite: a missing pointer repoints the max complete generation") {
    val root = freshIndex()
    IvfIndex.refreshCentroids(spark, root) // g=0 sealed (bootstrap), g=1 sealed
    fsOf(root).delete(p(s"$root/_gen"), false) // the delete+rename window
    val resolved = IvfIndex.resolve(spark, root)
    assert(resolved.endsWith("g=1"),
      s"missing pointer not repaired to the max complete generation: $resolved")
  }

  test("a generation's centroids are read in the store's schema, with no Spark job") {
    val gd = IvfIndex.resolve(spark, freshIndex())
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.graftshim.ListenerShim.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    val types = try {
      val t = IvfIndex.centroids(spark, gd).schema.map(_.dataType.simpleString)
      org.apache.spark.graftshim.ListenerShim.waitUntilListenerBusEmpty(sc)
      t
    } finally sc.removeSparkListener(listener)
    assert(types === Seq("bigint", "array<float>"))
    assert(jobs.get === 0, "the centroids read inferred its schema with a Spark job")
  }

  test("legacy flat layout is adopted into g=0 and keeps serving") {
    // build a legacy index: centroids + postings at the top level, no
    // pointer (the pre-generation layout)
    val root = java.nio.file.Files.createTempDirectory("ivf_legacy").toString + "/index"
    corpus.take(5).map { case (i, v) => (i, v) }.toDF("c_id", "c_vec")
      .write.parquet(s"$root/centroids")
    corpus.map { case (i, v) => (i % 5, i, v, 0L) }
      .toDF("centroid_id", "vec_id", "embedding", "batch_id")
      .repartition(col("centroid_id"))
      .write.partitionBy("centroid_id", "batch_id").parquet(s"$root/postings")
    val gd = IvfIndex.resolve(spark, root)
    assert(gd.endsWith("g=0"), s"legacy layout not adopted: $gd")
    assert(spark.read.parquet(s"$gd/postings").count() == corpus.size)
    // the real op searches and inserts against the adopted index
    val h = ivfSearchInsertBatch(batch.toDF("vec_id", "embedding"), root, batchId = 1L)
    assert(h.count() > 0, "search against the adopted index returned nothing")
  }

  test("compaction operates within the current generation and survives a refresh") {
    val root = freshIndex()
    ivfSearchInsertBatch(batch.map { case (i, v) => (i + 100, v) }
      .toDF("vec_id", "embedding"), root, batchId = 2L)
    IvfIndex.refreshCentroids(spark, root)
    val gd = IvfIndex.resolve(spark, root)
    def rows() = spark.read.parquet(s"$gd/postings")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val before = rows()
    IvfIndex.compact(spark, root, upToBatchId = 1L)
    assert(rows() == before, "compaction changed content")
    val horizonDirs = new java.io.File(s"$gd/postings").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).flatMap(_.listFiles())
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    assert(!horizonDirs.exists(d =>
        d.stripPrefix("batch_id=").toLong < 1L),
      s"batch dirs below the horizon survived: $horizonDirs")
  }
}
