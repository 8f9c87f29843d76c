package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

/** Scan fan-out regression gate (ADVICE r18): the r18 fan-out was dead code
  * on the layout it targeted because `File.listFiles()` returns null for a
  * regular file. These specs pin the fixed contract on BOTH layouts, each
  * through a loader called with `fanned = true` on a table above the
  * 512 KiB size floor:
  *  1. single-FILE table (the driver's testdata layout) → fan-out fires
  *     (hashpartitioning exchange on the natural key) and the rows are
  *     unchanged;
  *  2. directory-of-part-files table (Spark-written layout) → rows
  *     unchanged with fan-out on;
  *  3. the ceiling-division estimate does not over-trigger near the split
  *     boundary: files of ~1.5 splits each count as 2 tasks, not 1, so a
  *     scan already near the core count is left alone.
  */
class FanoutSpec extends SparkSpec {

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // 10,000 rows of 128 hex chars of text: about 1.3 MB of parquet, above
  // the fan-out's 512 KiB floor even when split across two files
  private def writeDocs(dir: String, files: Int): Unit =
    spark.range(10000).select(
        col("id").as("doc_id"),
        sha2(col("id").cast("string"), 512).as("text"),
        lit("en").as("lang"), lit("web").as("source"),
        lit(128L).as("n_chars"))
      .repartition(files)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def parquetBytes(path: String): Seq[Long] = {
    val f = new java.io.File(path)
    if (f.isFile) Seq(f.length())
    else f.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).toSeq
  }

  private val FloorBytes = 512L * 1024

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(_.toString).toSeq.sorted

  private def hasFanoutExchange(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("hashpartitioning(doc_id")

  test("fan-out fires on a single-FILE table and preserves rows") {
    val base = Files.createTempDirectory("graft-fanout-file").toString
    writeDocs(s"$base/staging", 1)
    // flatten the Spark-written directory into the driver's single-file layout
    val part = new java.io.File(s"$base/staging/documents.parquet").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    Files.createDirectories(Paths.get(s"$base/flat"))
    Files.copy(part.toPath, Paths.get(s"$base/flat/documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(parquetBytes(s"$base/flat/documents.parquet").sum >= FloorBytes)

    val viaTable = Tables.documents(spark, s"$base/flat", fanned = true)
    assert(hasFanoutExchange(viaTable),
      "single-file layout (the driver's) must fan out — r18 regression: " +
        "listFiles() on a regular file is null and the guard never fired")
    assert(viaTable.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    val plain = spark.read.parquet(s"$base/flat/documents.parquet")
    assert(sortedRows(viaTable) == sortedRows(plain))
  }

  test("fan-out on a directory-layout table preserves rows") {
    val base = Files.createTempDirectory("graft-fanout-dir").toString
    writeDocs(base, 2)
    assert(parquetBytes(s"$base/documents.parquet").sum >= FloorBytes)
    val viaTable = Tables.documents(spark, base, fanned = true)
    assert(hasFanoutExchange(viaTable),
      "two part files estimate 2 tasks on 4 cores — should fan out")
    val plain = spark.read.parquet(s"$base/documents.parquet")
    assert(sortedRows(viaTable) == sortedRows(plain))
  }

  test("ceiling task estimate does not over-trigger near the split boundary") {
    val base = Files.createTempDirectory("graft-fanout-ceil").toString
    writeDocs(base, 2)
    val sizes = parquetBytes(s"$base/documents.parquet")
    assert(sizes.length == 2)
    assert(sizes.sum >= FloorBytes) // the size floor is not what holds it back
    // pick maxPartitionBytes so each file is ~1.5 splits: floor would say
    // 1 task each (2 estimated, fires on 4 cores); ceiling says 2 each
    // (4 estimated, 4*2 > 4 — must NOT fire)
    val maxSplit = (sizes.min * 2) / 3
    withConf("spark.sql.files.maxPartitionBytes" -> maxSplit.toString) {
      val viaTable = Tables.documents(spark, base, fanned = true)
      assert(!hasFanoutExchange(viaTable),
        s"files of ~1.5 splits (sizes=${sizes.mkString(",")}, " +
          s"maxSplit=$maxSplit) estimate 4 tasks on 4 cores; the floor " +
          "estimate under-counted and over-triggered the fan-out")
    }
  }
}
