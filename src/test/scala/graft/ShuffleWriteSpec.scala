package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, sha1}

/** Each shuffle byte is written once: [[Sessions.defaults]] turns the
  * bypass-merge shuffle writer off (it writes every map output twice,
  * into per-reducer temp files and again into the concatenated data file),
  * so every SQL exchange takes the serialized sort-shuffle writer, which
  * moves a single spill into place. The bytes the process writes are read
  * from `/proc/self/io` (`wchar`). */
class ShuffleWriteSpec extends SparkSpec {

  private def wchar(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("wchar:")).map(_.drop(6).trim.toLong)
      .getOrElse(fail("no wchar in /proc/self/io"))

  test("Sessions.defaults sets the one shuffle writer and its page size in the session") {
    val conf = spark.sparkContext.getConf
    for (key <- Seq("spark.shuffle.sort.bypassMergeThreshold", "spark.buffer.pageSize"))
      assert(conf.getOption(key) === Sessions.defaults.get(key), key)
    assert(Sessions.defaults("spark.shuffle.sort.bypassMergeThreshold") === "0")
  }

  test("a repartition writes at most 1.25x its exchange's shuffle bytes") {
    // sha1 hex barely compresses, so the exchange writes a few MB: twice
    // that (the bypass-merge writer) is far outside the bound
    val frame = spark.range(0, 200000, 1, 4)
      .select(col("id"), sha1(col("id").cast("string")).as("h"))
      .repartition(4, col("id"))
    val w0 = wchar()
    val (_, plans, taskBytes) = NoopRun.traced(spark)(
      frame.write.format("noop").mode("overwrite").save())
    val written = wchar() - w0
    val shuffles = NoopRun.exchanges(plans).filter(_.kind == "shuffle")
    assert(shuffles.size === 1, shuffles.mkString("\n"))
    val bytes = shuffles.head.shuffleBytes
    assert(bytes > 4L * 1024 * 1024, s"exchange wrote $bytes B, too few to tell")
    assert(taskBytes === bytes)
    // slack: index and checksum files, log lines, block-manager chatter
    val slack = 512L * 1024
    assert(written <= 1.25 * bytes + slack,
      s"process wrote $written B for an exchange of $bytes B (${written.toDouble / bytes}x)")
  }
}
