package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-drift regression gate (VERDICT r7): the driver regenerated
  * testdata flipping `events.ts` from parquet TIMESTAMP(NANOS) to
  * timestamp[us], and a hard-coded encoding assumption in the loader took
  * out 30 queries at once. These specs pin the contract:
  *  1. `Tables.events` loads every encoding the driver has ever shipped —
  *     int64 nanos, TIMESTAMP_NTZ (timestamp[us] w/o UTC adjustment), and
  *     TimestampType — to IDENTICAL normalized values;
  *  2. `Tables.validate` turns an incompatible regeneration into ONE
  *     actionable diagnostic naming the table/column/found type, instead of
  *     N opaque per-query analysis errors;
  *  3. `Tables.table` infers a table's schema once per session, and again
  *     when its files change.
  */
class FixtureSpec extends SparkSpec {

  private def writeTwin(dir: String, tsCol: org.apache.spark.sql.Column): Unit = {
    import spark.implicits._
    Seq(
      (1L, 1704067200000000L, 10L, "view", 1.5, """{"k": 1}"""),
      (2L, 1704067201500000L, 11L, "click", 2.5, """{"k": 2}"""),
      (3L, 1704067203999999L, 10L, "error", 3.5, """{"k": 3}"""))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsCol).drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("Tables.events loads all three ts encodings to identical values") {
    val base = Files.createTempDirectory("graft-fixture").toString
    // legacy shape: raw int64 (what nanos-as-long reads as) holding nanos
    writeTwin(s"$base/nanos", (col("us") * 1000L).as("ts"))
    // round-7+ shape: TIMESTAMP_NTZ (parquet timestamp[us], not UTC-adjusted)
    writeTwin(s"$base/ntz", timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    // post-loader shape: session-UTC TimestampType (what our sinks write)
    writeTwin(s"$base/utc", timestamp_micros(col("us")).as("ts"))

    val loaded = Seq("nanos", "ntz", "utc").map { enc =>
      val df = Tables.events(spark, s"$base/$enc")
      assert(df.schema("ts").dataType == TimestampType,
        s"$enc: loader must normalize ts to TimestampType, got ${df.schema("ts").dataType}")
      enc -> df.orderBy("event_id").select("event_id", "ts").collect().toSeq
    }.toMap
    assert(loaded("nanos") == loaded("ntz"),
      s"nanos vs ntz mismatch:\n${loaded("nanos")}\n${loaded("ntz")}")
    assert(loaded("ntz") == loaded("utc"),
      s"ntz vs utc mismatch:\n${loaded("ntz")}\n${loaded("utc")}")
  }

  /** Writes a GENUINE parquet TIMESTAMP(NANOS)-annotated footer via
    * parquet-mr's example writer — Spark itself cannot produce one, which
    * is why the plain-int64 twin above never exercised the real legacy
    * path (ADVICE r8): schema inference must go through the
    * `nanosAsLong` session flag for this file to be readable at all. */
  private def writeGenuineNanos(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS)).named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    new java.io.File(s"$dir/events.parquet").mkdirs()
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"))
      .withConf(conf).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    Seq(
      (1L, 1704067200000000L, 10L, "view", 1.5, """{"k": 1}"""),
      (2L, 1704067201500000L, 11L, "click", 2.5, """{"k": 2}"""),
      (3L, 1704067203999999L, 10L, "error", 3.5, """{"k": 3}"""))
      .foreach { case (id, us, uid, et, v, props) =>
        val g = f.newGroup()
        g.add("event_id", id); g.add("ts", us * 1000L); g.add("user_id", uid)
        g.add("event_type", et); g.add("value", v); g.add("props", props)
        writer.write(g)
      }
    writer.close()
  }

  test("genuine TIMESTAMP(NANOS) footer: loader and validate both succeed") {
    val base = Files.createTempDirectory("graft-real-nanos").toString
    writeGenuineNanos(base)
    // the flag lives in Sessions.defaults (session builder), not in the
    // loader — prove the configured-session path end-to-end on the REAL
    // legacy encoding, not the plain-int64 stand-in
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val df = Tables.events(spark, base)
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.orderBy("event_id").select("event_id", "ts").collect().toSeq
    writeTwin(s"$base/utc_twin", timestamp_micros(col("us")).as("ts"))
    val want = Tables.events(spark, s"$base/utc_twin")
      .orderBy("event_id").select("event_id", "ts").collect().toSeq
    assert(got == want, s"genuine-NANOS values diverge:\n$got\n$want")
    // the fixture gate must accept the encoding too (it reads the same
    // schema-inference path Bench/Verify go through at startup)
    val problems = Tables.fixtureProblems(spark, base)
      .filter(_.startsWith("events"))
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("Tables.events rejects an unsupported ts type with an actionable error") {
    val dir = Files.createTempDirectory("graft-fixture-bad").toString
    writeTwin(dir, (col("us") / 1000.0).as("ts")) // double — no valid reading
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts") && e.getMessage.contains("double"))
  }

  test("Tables.table infers a table's schema once per session, again after a rewrite") {
    val dir = Files.createTempDirectory("graft-schema-registry").toString
    spark.range(3).toDF("id").write.parquet(s"$dir/t.parquet")
    val first = NoopRun.traced(spark)(Tables.table(spark, dir, "t").schema)
    assert(first.jobs > 0, "schema inference started no job")
    val again = NoopRun.traced(spark)(Tables.table(spark, dir, "t").schema)
    assert(again.jobs === 0, "a second read of an unchanged table started a job")
    assert(again.result === first.result)
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS name")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rewritten = Tables.table(spark, dir, "t")
    assert(rewritten.schema.fieldNames.toSeq === Seq("id", "name"))
    assert(rewritten.where("name = '2'").count() === 1)
  }

  test("Tables.validate passes on real testdata at every scale factor") {
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      Tables.validate(spark, s"/root/testdata/$sf")
    }
  }

  test("Tables.validate names table/column/type on a mangled fixture") {
    val src = "/root/testdata/sf0.001"
    val dst = Files.createTempDirectory("graft-mangled").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .limit(1).write.parquet(s"$dst/$t.parquet")
    }
    // mangle events: drop user_id, re-type value to string
    Tables.events(spark, src).limit(1)
      .drop("user_id").withColumn("value", col("value").cast("string"))
      .write.parquet(s"$dst/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.validate(spark, dst))
    assert(e.getMessage.contains("events.user_id: MISSING"), e.getMessage)
    assert(e.getMessage.contains("events.value: found string"), e.getMessage)
    // the diagnostic is aggregated: both problems in one error
  }
}
