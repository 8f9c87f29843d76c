package graft.streaming

import graft.ops.{IvfIndex, ShardedStore}
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._
  import StreamingOps._

  test("windowedEventCounts aggregates tumbling windows incrementally") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = windowedEventCounts(
      input.toDF().toDF("ts", "event_type"), "10 minutes", "1 hour")
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click"),
        (Timestamp.valueOf("2024-01-01 10:55:00"), "click"),
        (Timestamp.valueOf("2024-01-01 11:05:00"), "view"))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 10:30:00"), "click"))
      q.processAllAvailable()
      val got = spark.table("wc")
        .as[(Timestamp, String, Long)].collect()
        .map { case (w, t, n) => (w.toString, t, n) }.toSet
      assert(got === Set(
        ("2024-01-01 10:00:00.0", "click", 3L),
        ("2024-01-01 11:00:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("file-source streaming: parquet dir → windowed counts, AvailableNow") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    Seq(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click"),
      (Timestamp.valueOf("2024-01-01 10:45:00"), "click"),
      (Timestamp.valueOf("2024-01-01 11:10:00"), "view"))
      .toDF("ts", "event_type").write.parquet(s"$dir/in")
    val stream = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING")
      .parquet(s"$dir/in")
    val q = windowedEventCounts(stream, "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("fwc")
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      val got = spark.table("fwc").as[(Timestamp, String, Long)].collect()
        .map { case (w, t, n) => (w.toString, t, n) }.toSet
      assert(got === Set(
        ("2024-01-01 10:00:00.0", "click", 2L),
        ("2024-01-01 11:00:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("zoneActivityStream: incremental stage-3 report (window × zone × type)") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Timestamp, Long, String)]
    val report = zoneActivityStream(
      input.toDF().toDF("ts", "zone_id", "event_type"),
      Seq("click", "view"), "10 minutes", "1 hour")
    val q = report.writeStream.format("memory").queryName("zr")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "click"),
        (Timestamp.valueOf("2024-01-01 10:06:00"), 1L, "click"),
        (Timestamp.valueOf("2024-01-01 10:07:00"), 1L, "view"),
        (Timestamp.valueOf("2024-01-01 10:08:00"), 2L, "view"))
      q.processAllAvailable()
      val got = spark.table("zr")
        .select(col("zone_id"), col("n_click"), col("n_view"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got === Set((1L, 2L, 1L), (2L, 0L, 1L)))
    } finally q.stop()
  }

  test("custom codegen expressions run inside streaming plans (geo argmin)") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val zones = Seq((0L, "Z0", 0.0, 0.0), (1L, "Z1", 40.0, 10.0))
      .toDF("zone_id", "zone_name", "lat_z", "lon_z")
    val input = MemoryStream[(Long, Double, Double)]
    val enriched = graft.ops.GeoOps.nearestZone(
      input.toDF().toDF("id", "lat", "lon"), zones, "lat", "lon")
      .select(col("id"), col("zone_name"))
    val q = enriched.writeStream.format("memory").queryName("gz")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, 1.0, 1.0), (2L, 39.0, 11.0))
      q.processAllAvailable()
      val got = spark.table("gz").as[(Long, String)].collect().toMap
      assert(got === Map(1L -> "Z0", 2L -> "Z1"))
    } finally q.stop()
  }

  test("dedupStream drops duplicate keys within the watermark horizon") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = dedupStream(
      input.toDF().toDF("ts", "doc_id", "payload"), Seq("doc_id"), "1 hour")
    val q = out.writeStream.format("memory").queryName("dd")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "a"),
        (Timestamp.valueOf("2024-01-01 10:01:00"), 1L, "a-dup"),
        (Timestamp.valueOf("2024-01-01 10:02:00"), 2L, "b"))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 10:03:00"), 1L, "a-dup2"))
      q.processAllAvailable()
      val got = spark.table("dd").select("doc_id").as[Long].collect().toSeq.sorted
      assert(got === Seq(1L, 2L)) // one row per key survives
    } finally q.stop()
  }

  test("sessionize emits closed sessions across micro-batches, keeps open state") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val sessions = sessionize(input.toDS(), gapMicros = 60L * 1000000)
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(UserEvent(1, 0), UserEvent(1, 30000000)) // one open session
      q.processAllAvailable()
      assert(spark.table("sess").count() === 0) // nothing closed yet
      input.addData(UserEvent(1, 200000000)) // gap > 60s → closes first session
      q.processAllAvailable()
      val got = spark.table("sess").as[ClosedSession].collect().toSeq
      assert(got === Seq(ClosedSession(1, 0, 30000000, 2)))
    } finally q.stop()
  }

  test("nearDupDedupBatch drops LSH near-dups across micro-batches via the band store") {
    implicit val sc = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-bands").toString + "/bands"
    val input = MemoryStream[(Long, String)]
    val kept = scala.collection.mutable.ListBuffer.empty[Long]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        kept ++= StreamingOps.nearDupDedupBatch(batch, store)
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }
      .start()
    try {
      val a = "the quick brown fox jumps over the lazy dog again and again"
      val b = "completely different words about spark shuffles and parquet files"
      input.addData((1L, a), (2L, b))
      q.processAllAvailable()
      assert(kept.sorted == Seq(1L, 2L))
      // batch 2: doc 3 duplicates doc 1's text (every band collides → drop);
      // doc 4 is novel (kept); doc 5 duplicates doc 4 WITHIN the batch (drop)
      val c = "fresh unseen tokens forming a brand new document body here"
      input.addData((3L, a), (4L, c), (5L, c))
      q.processAllAvailable()
      assert(kept.sorted == Seq(1L, 2L, 4L))
    } finally q.stop()
  }

  test("snapshotMaintainBatch folds micro-batches into the lake snapshot (latest version wins)") {
    implicit val sc = spark.sqlContext
    val snap = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/user_pos"
    val input = MemoryStream[(Long, Long, String)]
    val q = input.toDF().toDF("user_id", "ver", "pos").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingOps.snapshotMaintainBatch(
          batch.withColumn("part", pmod($"user_id", lit(4)).cast("int")),
          snap, Seq("user_id"), Seq("part"), "ver")
      }
      .start()
    try {
      // batch 1 bootstraps; user 1 appears twice — latest version must win
      input.addData((1L, 1L, "a"), (1L, 2L, "b"), (2L, 1L, "x"))
      q.processAllAvailable()
      // batch 2: update user 1, stale row for user 2 (ignored), new user 3
      input.addData((1L, 3L, "c"), (2L, 0L, "stale"), (3L, 1L, "z"))
      q.processAllAvailable()
      val got = spark.read.parquet(snap)
        .select("user_id", "ver", "pos").as[(Long, Long, String)].collect().toSet
      assert(got === Set((1L, 3L, "c"), (2L, 1L, "x"), (3L, 1L, "z")))
    } finally q.stop()
  }

  test("stateless curation surface (quality, lang-ID, mix filter) streams unchanged") {
    // the batch curation expressions are pure column functions, so the same
    // code path runs under readStream with no modification — documents
    // arriving on a stream get scored/filtered per micro-batch
    import org.apache.spark.sql.functions._
    import graft.ops.{HashOps, TextOps}
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val scored = input.toDF().toDF("doc_id", "text")
      .withColumn("quality_e4",
        graft.queries.CurationQueries.qualityE4(col("text")))
      .withColumn("pred_lang", TextOps.langId(TextOps.tokens(col("text"))))
      .withColumn("bucket",
        pmod(HashOps.hash60(col("doc_id").cast("string")), lit(100L)))
      .where(col("bucket") < 100) // rate-100 lane of the mix filter
    val q = scored.writeStream.format("memory").queryName("cur")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (1L, "the cat sat on the mat and that is a fact of the day"),
        (2L, "der hund ist nicht ein der die das und zu klein"))
      q.processAllAvailable()
      val got = spark.table("cur")
        .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
      assert(got === Map(1L -> "en", 2L -> "de"))
      assert(spark.table("cur").where(col("quality_e4") > 0).count() === 2)
    } finally q.stop()
  }

  test("streamIntervalJoin: stream-stream join within the gap, state bounded by watermark") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp, Double)]
    val joined = streamIntervalJoin(
      clicks.toDF().toDF("user_id", "ts"),
      buys.toDF().toDF("user_id", "ts", "amount"),
      keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
      watermark = "10 minutes", maxGap = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, Timestamp.valueOf("2024-01-01 10:00:00")))
      buys.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:20:00"), 5.0), // within 30 min → joins
        (2L, Timestamp.valueOf("2024-01-01 11:20:00"), 7.0), // 80 min later → no join
        (3L, Timestamp.valueOf("2024-01-01 10:10:00"), 9.0)) // no matching click
      q.processAllAvailable()
      val got = spark.table("ssj")
        .select("user_id", "r_amount")
        .as[(Long, Double)].collect().toSet
      assert(got === Set((1L, 5.0)))
    } finally q.stop()
  }

  test("runningTotals: transformWithState accumulates per-key across micro-batches") {
    implicit val sc = spark.sqlContext
    // transformWithState supports only the RocksDB state store — scope the
    // provider to this query's lifetime and restore the session default
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingOps.KeyedValue]
    val q = StreamingOps.runningTotals(input.toDS())
      .writeStream.format("memory").queryName("rt")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(StreamingOps.KeyedValue(1L, 10), StreamingOps.KeyedValue(1L, 5),
        StreamingOps.KeyedValue(2L, 7))
      q.processAllAvailable()
      input.addData(StreamingOps.KeyedValue(1L, 1), StreamingOps.KeyedValue(3L, 2))
      q.processAllAvailable()
      // memory sink in Update mode appends each batch's emissions; the
      // row with the highest n per key is the current running total
      // (monotone by construction — order-independent unlike .last)
      val got = spark.table("rt").as[StreamingOps.RunningTotal].collect()
        .groupBy(_.user_id).map { case (k, rs) => k -> rs.maxBy(_.n) }
      assert(got(1L) === StreamingOps.RunningTotal(1L, 3, 16))
      assert(got(2L) === StreamingOps.RunningTotal(2L, 1, 7))
      assert(got(3L) === StreamingOps.RunningTotal(3L, 1, 2))
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("state data source reads a checkpoint's live aggregation state as a batch DataFrame") {
    implicit val sc = spark.sqlContext
    // the operational surface for debugging a stuck streaming job at
    // 100 TB: inspect the state store OFFLINE, without touching the query
    val ckpt = java.nio.file.Files.createTempDirectory("graft-state-src").toString
    val input = MemoryStream[StreamingOps.KeyedValue]
    val q = input.toDS().groupBy("user_id")
      .agg(org.apache.spark.sql.functions.sum("v").as("total"))
      .writeStream.format("memory").queryName("state_src_agg")
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(StreamingOps.KeyedValue(1L, 10), StreamingOps.KeyedValue(2L, 7))
      q.processAllAvailable()
      input.addData(StreamingOps.KeyedValue(1L, 5))
      q.processAllAvailable()
    } finally q.stop()
    // metadata: one stateful operator, its name and id
    val meta = spark.read.format("state-metadata").load(ckpt)
    assert(meta.count() == 1 && meta.select("operatorName").head().getString(0)
      .contains("stateStoreSave"))
    // values: the live per-key running totals, read as plain batch rows
    val state = spark.read.format("statestore").load(ckpt)
      .selectExpr("key.user_id", "value.sum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == Map(1L -> 15L, 2L -> 7L))
  }

  test("spaceSavingTopK under overflow keeps the SpaceSaving error guarantees") {
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // k = 2 counters, 4 distinct items with skewed frequencies across two
    // micro-batches — evictions are forced, so the bounds are the test
    val freq = Map("a" -> 9L, "b" -> 5L, "c" -> 2L, "d" -> 1L)
    val rows = freq.toSeq.sortBy(_._1).flatMap { case (it, n) =>
      (0L until n).map(i => (it, i))
    }.zipWithIndex.map { case ((it, _), idx) =>
      StreamingOps.SSEvent(1L, idx.toLong * 1000L, idx.toLong, it)
    }
    val input = MemoryStream[StreamingOps.SSEvent]
    val q = StreamingOps.spaceSavingTopK(input.toDS(), 2)
      .writeStream.format("memory").queryName("ss_overflow")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(rows.take(rows.size / 2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(rows.size / 2): _*)
      q.processAllAvailable()
      val all = spark.table("ss_overflow").as[StreamingOps.SSOut].collect()
      val last = all.map(_.n_seen).max
      assert(last == rows.size.toLong)
      val tracked = all.filter(_.n_seen == last).map(r => r.item -> ((r.est, r.max_err))).toMap
      assert(tracked.size == 2, s"sketch must hold exactly k items: $tracked")
      // guarantee 1: true <= est <= true + max_err for tracked items
      tracked.foreach { case (it, (est, err)) =>
        val truth = freq(it)
        assert(truth <= est && est <= truth + err, s"$it: est=$est err=$err true=$truth")
      }
      // guarantee 2: any untracked item's true count <= min tracked est
      val minEst = tracked.values.map(_._1).min
      freq.keys.filterNot(tracked.contains).foreach { it =>
        assert(freq(it) <= minEst, s"untracked $it (n=${freq(it)}) exceeds min est $minEst")
      }
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("ewmaStream: binary-decay fold matches the reference recurrence across micro-batches") {
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingOps.KeyedValue]
    val q = StreamingOps.ewmaStream(input.toDS())
      .writeStream.format("memory").queryName("ewma")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(StreamingOps.KeyedValue(1L, 10), StreamingOps.KeyedValue(1L, 4))
      q.processAllAvailable()
      input.addData(StreamingOps.KeyedValue(1L, 6), StreamingOps.KeyedValue(2L, 3))
      q.processAllAvailable()
      val got = spark.table("ewma").as[StreamingOps.EwmaOut].collect()
        .groupBy(_.user_id).map { case (k, rs) => k -> rs.maxBy(_.n) }
      // S := v*128 + (S >> 1), folded in arrival order
      val s1 = {
        val a = 10L * 128
        val b = 4L * 128 + (a >> 1)
        6L * 128 + (b >> 1)
      }
      assert(got(1L) === StreamingOps.EwmaOut(1L, 3, s1))
      assert(got(2L) === StreamingOps.EwmaOut(2L, 1, 3L * 128))
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("kmvDistinctStream: merged sketch equals the batch KMV of the same data") {
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val K = 8
    val P = graft.ops.HashOps.P
    def h(id: Long): Long = {
      // same md5-based hashP the batch queries use, computed driver-side
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:skmv".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % P
    }
    val input = MemoryStream[StreamingOps.KeyedHash]
    val q = StreamingOps.kmvDistinctStream(input.toDS(), K, P)
      .writeStream.format("memory").queryName("skmv")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: 5 distinct users for key a (< K → exact); batch 2 adds
      // 15 more (> K → estimator), re-sends duplicates (idempotence)
      input.addData((1L to 5L).map(i => StreamingOps.KeyedHash("a", h(i))): _*)
      q.processAllAvailable()
      input.addData((3L to 20L).map(i => StreamingOps.KeyedHash("a", h(i))): _*)
      q.processAllAvailable()
      val got = spark.table("skmv").as[StreamingOps.KmvOut].collect()
        .filter(_.k == "a")
      val batch1 = got.minBy(_.n_held)
      assert(batch1.n_held === 5L && batch1.estimate === 5L,
        s"small-set phase must be exact: $batch1")
      // reference: batch KMV over all 20 distinct ids
      val hs = (1L to 20L).map(h).distinct.sorted.take(K)
      val expected = (K - 1).toLong * P / hs.last
      val fin = got.maxBy(_.n_held)
      assert(fin.n_held === K.toLong)
      assert(fin.estimate === expected,
        s"streaming sketch diverged from batch KMV: got $fin expected $expected")
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("twapStream: cross-micro-batch holds equal the batch q_twap fold") {
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingOps.TwapEvent]
    val q = StreamingOps.twapStream(input.toDS())
      .writeStream.format("memory").queryName("stwap")
      .outputMode(OutputMode.Update).start()
    try {
      // user 1: 100¢ held 10s, 200¢ held 5s (split ACROSS batches);
      // user 2: single event → no closed hold
      input.addData(
        StreamingOps.TwapEvent(1L, 0L, 1L, 100L),
        StreamingOps.TwapEvent(1L, 10000000L, 2L, 200L),
        StreamingOps.TwapEvent(2L, 0L, 3L, 50L))
      q.processAllAvailable()
      input.addData(StreamingOps.TwapEvent(1L, 15000000L, 4L, 400L))
      q.processAllAvailable()
      val got = spark.table("stwap").as[StreamingOps.TwapOut].collect()
        .groupBy(_.user_id).map { case (k, rs) => k -> rs.maxBy(_.n_holds) }
      // wsum = 100*10s + 200*5s = 2_000_000_000 ¢·µs over 15 s
      assert(got(1L) === StreamingOps.TwapOut(1L, 2L, 15000000L,
        (100L * 10000000L + 200L * 5000000L) / 15000000L))
      assert(got(2L).n_holds === 0L && got(2L).twap_cents === 0L)
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("funnelStream: chain steps crossing micro-batches; out-of-order and late steps rejected") {
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val day = 86400000000L
    val input = MemoryStream[StreamingOps.FunnelEvent]
    val q = StreamingOps.funnelStream(input.toDS(), 7L * day)
      .writeStream.format("memory").queryName("sfunnel")
      .outputMode(OutputMode.Update).start()
    try {
      // user 1: view now, click+purchase arrive in the NEXT micro-batch
      // user 2: click BEFORE the first view — must not advance the chain
      // user 3: click inside, purchase outside the 7-day window
      input.addData(
        StreamingOps.FunnelEvent(1L, 0L, 0L, "view"),
        StreamingOps.FunnelEvent(2L, 0L, 0L, "click"),
        StreamingOps.FunnelEvent(2L, 10L, 0L, "view"),
        StreamingOps.FunnelEvent(3L, 0L, 0L, "view"),
        StreamingOps.FunnelEvent(3L, day, 0L, "click"))
      q.processAllAvailable()
      input.addData(
        StreamingOps.FunnelEvent(1L, day, 0L, "click"),
        StreamingOps.FunnelEvent(1L, 2 * day, 0L, "purchase"),
        StreamingOps.FunnelEvent(3L, 8 * day, 0L, "purchase"))
      q.processAllAvailable()
      val fin = spark.table("sfunnel").as[StreamingOps.FunnelLevel].collect()
        .groupBy(_.user_id).map { case (k, rs) => k -> rs.maxBy(_.level).level }
      assert(fin === Map(1L -> 3L, 2L -> 1L, 3L -> 2L))
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("funnelStream on the real fixture reproduces the batch q_window_funnel counts") {
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, dir)
      .selectExpr("user_id", "unix_micros(ts) as ts_us", "event_id", "event_type")
      .as[StreamingOps.FunnelEvent].collect().sortBy(e => (e.ts_us, e.event_id))
    val (first, second) = ev.splitAt(ev.length / 2) // chains cross the split
    val input = MemoryStream[StreamingOps.FunnelEvent]
    val q = StreamingOps.funnelStream(input.toDS(), 7L * 86400000000L)
      .writeStream.format("memory").queryName("sfunnel_fix")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(first.toSeq: _*)
      q.processAllAvailable()
      input.addData(second.toSeq: _*)
      q.processAllAvailable()
      val levels = spark.table("sfunnel_fix").as[StreamingOps.FunnelLevel]
        .collect().groupBy(_.user_id)
        .map { case (_, rs) => rs.maxBy(_.level).level }.toSeq
      val batch = graft.queries.BehaviorQueries.qWindowFunnel.run(spark, dir)
        .collect().head
      assert(levels.count(_ >= 1) == batch.getAs[Long]("n_view"))
      assert(levels.count(_ >= 2) == batch.getAs[Long]("n_then_click"))
      assert(levels.count(_ >= 3) == batch.getAs[Long]("n_then_purchase"))
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("aggregation state survives a query restart from the checkpoint") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val input = MemoryStream[(Timestamp, String)]
    def startQuery() = windowedEventCounts(
        input.toDF().toDF("ts", "event_type"), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("ckpt_wc")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Complete).start()
    val q1 = startQuery()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click"),
        (Timestamp.valueOf("2024-01-01 10:15:00"), "click"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: the new query must resume from the checkpointed offsets and
    // state — the pre-restart clicks still count
    input.addData((Timestamp.valueOf("2024-01-01 10:25:00"), "click"))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val got = spark.table("ckpt_wc")
        .as[(Timestamp, String, Long)].collect()
        .map { case (w, t, n) => (w.toString, t, n) }.toSet
      assert(got === Set(("2024-01-01 10:00:00.0", "click", 3L)),
        s"state lost across restart: $got")
    } finally q2.stop()
  }

  test("sessionWindowCounts: native session_window merges events within the gap") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = sessionWindowCounts(
      input.toDF().toDF("ts", "user_id"), "30 minutes", "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sw")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2024-01-01 10:20:00"), 1L), // same session (gap 20m < 30m)
        (Timestamp.valueOf("2024-01-01 12:00:00"), 1L), // new session
        (Timestamp.valueOf("2024-01-01 10:05:00"), 2L))
      q.processAllAvailable()
      // advance the watermark far enough to close every session
      input.addData((Timestamp.valueOf("2024-01-02 00:00:00"), 99L))
      q.processAllAvailable()
      val got = spark.table("sw").as[(Long, Timestamp, Timestamp, Long)]
        .collect().map { case (u, s, e, n) => (u, s.toString, e.toString, n) }.toSet
      assert(got === Set(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:50:00.0", 2L),
        (1L, "2024-01-01 12:00:00.0", "2024-01-01 12:30:00.0", 1L),
        (2L, "2024-01-01 10:05:00.0", "2024-01-01 10:35:00.0", 1L)))
    } finally q.stop()
  }

  test("sessionWindowCounts over the real fixture equals the batch session_window mart") {
    // batch↔stream parity on the SAME data: the native session_window
    // aggregate must produce identical closed sessions whether it sees the
    // events as one table (q_session_window_sql) or as two out-of-order
    // micro-batches with a watermark
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, dir)
      .select($"ts".as[Timestamp], $"user_id".as[Long]).collect()
    // split by TIME (events later than the watermark of batch 1 would be
    // dropped as late under any other split); every user is active across
    // the whole window, so sessions still straddle the boundary and the
    // cross-micro-batch merge is exercised
    val maxTs = ev.map(_._1.getTime).max
    val midTs = (ev.map(_._1.getTime).min + maxTs) / 2
    val (b1, b2) = ev.zipWithIndex.partition(_._1._1.getTime <= midTs)
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = sessionWindowCounts(
      input.toDF().toDF("ts", "user_id"), "30 minutes", "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("swfix")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(b1.map(_._1).toSeq)
      q.processAllAvailable()
      input.addData(b2.map(_._1).toSeq)
      q.processAllAvailable()
      // sentinel far past every event: advances the watermark so every
      // real session closes; its own session stays open and never emits
      input.addData((new Timestamp(maxTs + 7L * 86400000L), -1L))
      q.processAllAvailable()
      val got = spark.table("swfix")
        .as[(Long, Timestamp, Timestamp, Long)].collect()
        .map { case (u, s, e, n) => (u, s.getTime, e.getTime, n) }.toSet
      val want = graft.queries.BehaviorQueries.qSessionWindowSql.run(spark, dir)
        .select($"user_id".as[Long], $"session_start".as[Timestamp],
          $"session_end".as[Timestamp], $"n_events".as[Long]).collect()
        .map { case (u, s, e, n) => (u, s.getTime, e.getTime, n) }.toSet
      assert(got === want)
      assert(want.size > ev.map(_._2).distinct.length,
        "fewer sessions than users — gap threshold degenerate on this fixture")
    } finally q.stop()
  }

  test("streamStaticEnrich: static dim joins per micro-batch with no stream state") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val dim = Seq((1L, "NATION_1"), (2L, "NATION_2")).toDF("nation_id", "n_name")
    val enriched = streamStaticEnrich(
      input.toDF().toDF("event_id", "nation_id"), dim, Seq("nation_id"))
    val q = enriched.writeStream.format("memory").queryName("sse")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((10L, 1L), (11L, 2L), (12L, 7L))
      q.processAllAvailable()
      val got = spark.table("sse").select("event_id", "n_name")
        .as[(Long, Option[String])].collect().toSet
      assert(got === Set((10L, Some("NATION_1")), (11L, Some("NATION_2")),
        (12L, None)))
      // no stateful operator: stream-static join keeps zero streaming state
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("qualityFilterStream scores like the batch twin and keeps only positives") {
    implicit val sc = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "lorem ipsum dolor sit amet consectetur"),
      (3L, "completely different content with other words here"),
      (4L, ""))
    // batch ground truth from the SAME catalog expression
    val dir = java.nio.file.Files.createTempDirectory("graft-qstream").toString
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val batch = graft.queries.TextQueries.qualityLinearScore.run(spark, dir)
      .select("doc_id", "score", "keep")
      .as[(Long, Long, Int)].collect()
    val expected = batch.collect { case (id, s, 1) => id -> s }.toSet

    val input = MemoryStream[(Long, String)]
    val q = qualityFilterStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qfs")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("qfs").select("doc_id", "score")
        .as[(Long, Long)].collect().toSet
      assert(got === expected, s"stream/batch divergence: $got vs $expected")
      // stateless: the filter keeps zero streaming state
      assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("attributedSessions emits closed sessions with first-touch channel and conversion") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[TypedEvent]
    val sessions = attributedSessions(input.toDS(), gapMicros = 60L * 1000000)
    val q = sessions.writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append).start()
    try {
      // session 1: click → purchase (converted, first-touch = click)
      input.addData(TypedEvent(1, 0, "click"), TypedEvent(1, 30000000, "purchase"))
      q.processAllAvailable()
      assert(spark.table("attr").count() === 0) // still open
      // 200s later: closes session 1, opens session 2 (view, unconverted)
      input.addData(TypedEvent(1, 200000000, "view"))
      q.processAllAvailable()
      val got1 = spark.table("attr").as[AttributedSession].collect().toSeq
      assert(got1 === Seq(AttributedSession(1, 0, 30000000, 2, "click", true)))
      // another gap: closes session 2 — view-first, no purchase
      input.addData(TypedEvent(1, 400000000, "signup"))
      q.processAllAvailable()
      val got2 = spark.table("attr").as[AttributedSession].collect().toSeq
      assert(got2.contains(AttributedSession(1, 200000000, 200000000, 1, "view", false)))
      // agreement with the batch mart semantics: grouping emitted sessions
      // by first_type is exactly qAttributionFirstTouch's channel grain
      assert(got2.map(_.first_type).toSet === Set("click", "view"))
    } finally q.stop()
  }
  test("compactPostings merges horizon batches per cell; search results and content unchanged") {
    val vecs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val thirds = vecs.grouped(math.max(1, vecs.length / 3)).toSeq
    def df(xs: Seq[(Long, Seq[Float])]) = xs.toDF("vec_id", "embedding")
    val rootA = java.nio.file.Files.createTempDirectory("p_cpost").toString + "/a"
    val rootB = java.nio.file.Files.createTempDirectory("p_cpost").toString + "/b"
    for (root <- Seq(rootA, rootB); (b, i) <- thirds.take(3).zipWithIndex)
      StreamingOps.ivfSearchInsertBatch(df(b.toSeq), root, batchId = i.toLong)
    def content(root: String) = spark.read
      .parquet(s"${IvfIndex.resolve(spark, root)}/postings")
      .select(col("vec_id"), col("centroid_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def parquetFiles(root: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"${IvfIndex.resolve(spark, root)}/postings"))
    }
    val filesBefore = parquetFiles(rootA)
    IvfIndex.compact(spark, rootA, upToBatchId = 2L)
    assert(parquetFiles(rootA) < filesBefore, "compaction reduced nothing")
    assert(content(rootA) == content(rootB), "compaction changed postings content")
    // a later batch sees identical search results on both layouts
    val probe = vecs.takeRight(10).map { case (id, v) => (id + 1000000L, v) }
    def hits(root: String) = StreamingOps
      .ivfSearchInsertBatch(df(probe.toSeq), root, batchId = 9L)
      .collect().map(_.toSeq.toList).toSet
    assert(hits(rootA) == hits(rootB))
    assert(hits(rootA).nonEmpty || vecs.isEmpty)
  }

  test("compactPostings crash windows: staging invisible pre-swap; forward and rollback recovery") {
    val vecs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val thirds = vecs.grouped(math.max(1, vecs.length / 3)).toSeq
    def df(xs: Seq[(Long, Seq[Float])]) = xs.toDF("vec_id", "embedding")
    def build(): String = {
      val root = java.nio.file.Files.createTempDirectory("p_cprec").toString + "/idx"
      for ((b, i) <- thirds.take(3).zipWithIndex)
        StreamingOps.ivfSearchInsertBatch(df(b.toSeq), root, batchId = i.toLong)
      root
    }
    def content(root: String) = spark.read
      .parquet(s"${IvfIndex.resolve(spark, root)}/postings")
      .select(col("vec_id"), col("centroid_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fsOf = (root: String) => org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def pth(s: String) = new org.apache.hadoop.fs.Path(s)

    // crash after phase 1 (staging complete, no swap): reads see the
    // original layout byte-identically; recovery rolls FORWARD
    val a = build(); val before = content(a)
    val ga = IvfIndex.resolve(spark, a)
    assert(IvfIndex.stageCompactedPostings(spark, ga, upToBatchId = 2L))
    assert(content(a) == before, "pre-swap staging leaked into reads")
    IvfIndex.recover(spark, a)
    assert(content(a) == before, "forward recovery changed postings content")
    assert(!fsOf(a).exists(pth(s"$ga/postings/.compact_upto_2")), "staging litter")
    val horizonDirs = new java.io.File(s"$ga/postings").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("centroid_id="))
      .map(_.listFiles().count(b => b.isDirectory &&
        b.getName.stripPrefix("batch_id=").toLong <= 2L))
    assert(horizonDirs.forall(_ == 1), "recovery did not complete the compaction")

    // crash mid-swap (a cell's merged dirs deleted, staged rename pending):
    // recovery completes that cell from the staging — nothing lost
    val b = build(); val beforeB = content(b)
    val gb = IvfIndex.resolve(spark, b)
    assert(IvfIndex.stageCompactedPostings(spark, gb, upToBatchId = 2L))
    val cellB = new java.io.File(s"$gb/postings").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("centroid_id=")).head.getName
    new java.io.File(s"$gb/postings/$cellB").listFiles()
      .filter(d => d.isDirectory && d.getName.stripPrefix("batch_id=").toLong <= 2L)
      .foreach(d => fsOf(b).delete(pth(d.getPath), true): Unit)
    IvfIndex.recover(spark, b)
    assert(content(b) == beforeB, "mid-swap recovery lost the deleted cell's rows")

    // incomplete staging (no _SUCCESS): ROLLBACK — live dirs untouched,
    // staging discarded
    val c = build(); val beforeC = content(c)
    val gc = IvfIndex.resolve(spark, c)
    assert(IvfIndex.stageCompactedPostings(spark, gc, upToBatchId = 2L))
    fsOf(c).delete(pth(s"$gc/postings/.compact_upto_2/_SUCCESS"), false)
    IvfIndex.recover(spark, c)
    assert(content(c) == beforeC)
    assert(!fsOf(c).exists(pth(s"$gc/postings/.compact_upto_2")),
      "incomplete staging not discarded")
  }

  test("twins self-heal at open: a crashed index rewrite is recovered before the batch runs") {
    import graft.ops.DedupOps
    def pth(s: String) = new org.apache.hadoop.fs.Path(s)
    val fsOf = (root: String) => org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

    // dedup twin: identical two-index setup; index A gets a simulated
    // mid-forget crash (complete staging + one half-swapped shard); the
    // next micro-batch through the REAL op must produce the same verdicts
    // as the untouched index B, and leave no rewrite litter behind
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val (d1, d2) = docs.splitAt(docs.length / 2)
    val rootA = java.nio.file.Files.createTempDirectory("p_heal").toString + "/a"
    val rootB = java.nio.file.Files.createTempDirectory("p_heal").toString + "/b"
    for (root <- Seq(rootA, rootB))
      StreamingOps.deltaDedupVerifiedBatch(d1.toDF("doc_id", "text"), root, 0.7)
        .count()
    val shards = new java.io.File(s"$rootA/sigs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("doc_pt="))
      .map(_.getName.stripPrefix("doc_pt=").toInt).sorted.toSeq
    ShardedStore.stage(spark.read.parquet(s"$rootA/sigs"),
      ShardedStore.Table(s"$rootA/sigs", "doc_pt"), shards)
    fsOf(rootA).rename(pth(s"$rootA/sigs/doc_pt=${shards.head}"),
      pth(s"$rootA/sigs/.old.doc_pt=${shards.head}"))
    def verdicts(root: String) = StreamingOps
      .deltaDedupVerifiedBatch(d2.toDF("doc_id", "text"), root, 0.7)
      .collect().map(_.toSeq.toList).toSet
    assert(verdicts(rootA) == verdicts(rootB),
      "batch on the crashed index diverged from the clean index")
    val litter = new java.io.File(s"$rootA/sigs").listFiles().map(_.getName)
      .filter(n => n == ".staging" || n.startsWith(".old."))
    assert(litter.isEmpty, s"open did not heal: ${litter.mkString(",")}")

    // IVF twin: simulated mid-compaction crash (staging complete, one
    // cell's merged dirs already deleted); the next search-insert batch
    // must see the full content and clear the staging
    val vecs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val thirds = vecs.grouped(math.max(1, vecs.length / 3)).toSeq
    def dfv(xs: Seq[(Long, Seq[Float])]) = xs.toDF("vec_id", "embedding")
    val ivfA = java.nio.file.Files.createTempDirectory("p_heal").toString + "/ia"
    val ivfB = java.nio.file.Files.createTempDirectory("p_heal").toString + "/ib"
    for (root <- Seq(ivfA, ivfB); (b, i) <- thirds.take(3).zipWithIndex)
      StreamingOps.ivfSearchInsertBatch(dfv(b.toSeq), root, batchId = i.toLong)
    val gia = IvfIndex.resolve(spark, ivfA)
    assert(IvfIndex.stageCompactedPostings(spark, gia, upToBatchId = 2L))
    val cell = new java.io.File(s"$gia/postings").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("centroid_id=")).head
    cell.listFiles()
      .filter(d => d.isDirectory && d.getName.stripPrefix("batch_id=").toLong <= 2L)
      .foreach(d => fsOf(ivfA).delete(pth(d.getPath), true): Unit)
    val probe = vecs.takeRight(10).map { case (id, v) => (id + 1000000L, v) }
    def hits(root: String) = StreamingOps
      .ivfSearchInsertBatch(dfv(probe.toSeq), root, batchId = 9L)
      .collect().map(_.toSeq.toList).toSet
    assert(hits(ivfA) == hits(ivfB),
      "search on the crashed postings diverged from the clean index")
    assert(hits(ivfA).nonEmpty)
    assert(!new java.io.File(s"$gia/postings").listFiles()
      .exists(_.getName.startsWith(".compact_upto_")), "compaction staging not healed")
  }

  test("ivfSearchInsertBatch bootstrap falls back to a seed centroid when the stride rule selects nothing") {
    val vecs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    // shift every id above centCap: no id satisfies the stride rule, so a
    // naive bootstrap would write an empty centroid set and a dead index
    val shifted = vecs.map { case (id, v) => (id + 2000L, v) }
    val (b1, b2) = shifted.splitAt(shifted.length / 2)
    val root = java.nio.file.Files.createTempDirectory("p_seed").toString + "/idx"
    StreamingOps.ivfSearchInsertBatch(b1.toSeq.toDF("vec_id", "embedding"), root, batchId = 1L)
    assert(spark.read.parquet(
        s"${IvfIndex.resolve(spark, root)}/centroids").count() == 1,
      "fallback must seed exactly one centroid")
    val h2 = StreamingOps.ivfSearchInsertBatch(
      b2.toSeq.toDF("vec_id", "embedding"), root, batchId = 2L)
    assert(h2.count() > 0, "index is dead: batch 2 found nothing")
  }

}
