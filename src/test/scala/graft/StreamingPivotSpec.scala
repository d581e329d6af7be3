package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingPivot
import graft.streaming.StreamingPivot.{CellEvent, LatestCells, VersionedCells}

/** Streaming A1/A2 (SURVEY §2.12 extension): windowed pivot + memstore state. */
class StreamingPivotSpec extends SparkSpec {
  import spark.implicits._

  case class TimedCell(
      rowKey: String, qualifier: String, value: Array[Byte],
      ts: Long, eventTime: Timestamp)

  private def cell(k: String, q: String, v: String, ts: Long, hour: Int) =
    TimedCell(k, q, v.getBytes("UTF-8"), ts,
      Timestamp.valueOf(f"2026-01-01 $hour%02d:30:00"))

  test("windowed pivot groups by (window, rowKey) with LWW, incrementally") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TimedCell]
    val piv = StreamingPivot.windowedPivot(in.toDF(), Seq("a", "b"))
    val q = piv.writeStream.format("memory").queryName("wp_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(
        cell("r1", "a", "old", 1, hour = 10),
        cell("r1", "a", "new", 2, hour = 10), // same window: LWW
        cell("r1", "b", "x", 3, hour = 10),
        cell("r1", "a", "later", 4, hour = 11)) // next window: separate row
      q.processAllAvailable()
      val rows = spark.table("wp_test")
        .as[(Long, String, Option[String], Option[String])].collect().toSet
      val hour10 = Timestamp.valueOf("2026-01-01 10:00:00").getTime * 1000L
      val hour11 = Timestamp.valueOf("2026-01-01 11:00:00").getTime * 1000L
      rows shouldBe Set(
        (hour10, "r1", Some("new"), Some("x")),
        (hour11, "r1", Some("later"), None))

      // a second batch updates the same window incrementally
      in.addData(cell("r1", "b", "y", 5, hour = 11))
      q.processAllAvailable()
      spark.table("wp_test").as[(Long, String, Option[String], Option[String])]
        .collect().toSet should contain((hour11, "r1", Some("later"), Some("y")))
    } finally q.stop()
  }

  test("mapGroupsWithState memstore: LWW across batches, stale writes lose") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[CellEvent]
    val q = LatestCells(in.toDS()).writeStream.format("memory")
      .queryName("ms_test").outputMode(OutputMode.Update()).start()
    try {
      in.addData(CellEvent("r1", "a", "v2", 2), CellEvent("r1", "b", "w1", 1))
      q.processAllAvailable()
      // batch 2: a stale write (ts 1 < 2) and a fresh one
      in.addData(CellEvent("r1", "a", "stale", 1), CellEvent("r1", "b", "w3", 3))
      q.processAllAvailable()
      val last = spark.table("ms_test")
        .as[StreamingPivot.RowSnapshot].collect().maxBy(_.lastTs)
      last.qualifiers shouldBe Map("a" -> "v2", "b" -> "w3")
      last.lastTs shouldBe 3L
    } finally q.stop()
  }

  test("memstore: an equal-ts tie resolves to the batch pivot's winner, in either arrival order") {
    import org.apache.spark.sql.functions.{col, decode, encode}
    implicit val ctx = spark.sqlContext
    val tie = Seq(CellEvent("r1", "a", "aa", 5), CellEvent("r1", "a", "ab", 5))
    val batch = graft.ops.KvPivot.pivot(tie.toDF()
        .select(col("rowKey"), col("qualifier"), encode(col("value"), "UTF-8").as("value"),
          col("cellTs").as("ts")), Seq("a"))
      .select(decode(col("a"), "UTF-8")).as[String].head()
    batch shouldBe "ab"
    for ((arrival, i) <- Seq(tie, tie.reverse).zipWithIndex) {
      val in = MemoryStream[CellEvent]
      val q = LatestCells(in.toDS()).writeStream.format("memory")
        .queryName(s"ms_tie_$i").outputMode(OutputMode.Update()).start()
      try {
        arrival.foreach { e => in.addData(e); q.processAllAvailable() }
        spark.table(s"ms_tie_$i").as[StreamingPivot.RowSnapshot].collect()
          .maxBy(_.version).qualifiers shouldBe Map("a" -> batch)
      } finally q.stop()
    }
  }

  test("versioned memstore: newest k per qualifier across batches, old versions evicted") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[CellEvent]
    val q = VersionedCells(in.toDS(), k = 2).writeStream.format("memory")
      .queryName("msv_test").outputMode(OutputMode.Update()).start()
    try {
      in.addData(CellEvent("r1", "a", "v1", 1), CellEvent("r1", "a", "v3", 3))
      q.processAllAvailable()
      // batch 2: v2 slots BETWEEN the retained versions (evicts v1), and a
      // late-but-newest v4 lands first in the history
      in.addData(CellEvent("r1", "a", "v2", 2), CellEvent("r1", "a", "v4", 4))
      q.processAllAvailable()
      val last = spark.table("msv_test")
        .as[StreamingPivot.VersionedSnapshot].collect().maxBy(_.version)
      last.cells("a") shouldBe Seq(
        StreamingPivot.CellVersion("v4", 4), StreamingPivot.CellVersion("v3", 3))
    } finally q.stop()
  }

  test("live sessionization: state spans micro-batches, event-time timeout flushes idle tails") {
    import org.apache.spark.sql.functions._
    val H = 3600L * 1000000000L // 1h in nanos = the session gap
    // u1: session {0, 0.5H} then an idle stretch — its tail must flush via
    // TIMEOUT once other users' events push the watermark past 1.5H, well
    // before u1's next event (5H) arrives in a later batch; numbering must
    // continue at idx 1 after the flush. u2: one session whose events span
    // two chunk files — the open tail must merge across micro-batches.
    // base offset: an event AT epoch 0 would tie the initial watermark and
    // be dropped as late — real event times are never at epoch zero.
    val B = 1000 * H
    val evs = Seq(
      (1L, 10L, B), (1L, 11L, B + H / 2), (1L, 12L, B + 5 * H),
      (2L, 20L, B + 9 * H / 10), (2L, 21L, B + 12 * H / 10),
      (2L, 22L, B + 18 * H / 10), (2L, 23L, B + 21 * H / 10))
      .toDF("user_id", "event_id", "tsNanos")
    val dir = StreamingPivot.stageSessionFiles(evs, nChunks = 4, gapNanos = H)
    // staging produced one file per micro-batch (4 chunks + punctuation)
    new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet")) shouldBe 5
    val raw = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, tsNanos BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("eventTime", expr("timestamp_micros(tsNanos DIV 1000)"))
      .withWatermark("eventTime", "0 seconds")
      .as[StreamingPivot.SessionEvent]
    val out = StreamingPivot.runAvailableNow(
      StreamingPivot.Sessionize(raw, gapNanos = H).toDF(),
      "sess_live_test", OutputMode.Append())
    out.as[StreamingPivot.SessionRow].collect().toSet shouldBe Set(
      StreamingPivot.SessionRow(1L, 0L, 2L, B / 1000, (B + H / 2) / 1000),
      StreamingPivot.SessionRow(1L, 1L, 1L, (B + 5 * H) / 1000, (B + 5 * H) / 1000),
      StreamingPivot.SessionRow(2L, 0L, 4L,
        (B + 9 * H / 10) / 1000, (B + 21 * H / 10) / 1000))
  }

  test("late sessionization: out-of-order micro-batches yield the in-order sessions") {
    import org.apache.spark.sql.functions._
    val H = 3600L * 1000000000L
    val B = 1000 * H
    // Same shape as the live test: u1 has two sessions, u2 one session
    // spanning chunks — but the replay order is time-SHUFFLED (adjacent
    // range chunks swapped), so merges arrive before the events they merge
    // with and session 0 data shows up after session 1 data.
    val evs = Seq(
      (1L, 10L, B), (1L, 11L, B + H / 2), (1L, 12L, B + 5 * H),
      (2L, 20L, B + 9 * H / 10), (2L, 21L, B + 12 * H / 10),
      (2L, 22L, B + 18 * H / 10), (2L, 23L, B + 21 * H / 10))
      .toDF("user_id", "event_id", "tsNanos")
    val (dir, lateNs) =
      StreamingPivot.stageSessionFilesShuffled(evs, nChunks = 4, gapNanos = H)
    // 4 range chunks + 2 punctuation waves
    new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet")) shouldBe 6
    lateNs shouldBe 5 * H + 1
    val raw = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, tsNanos BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("eventTime", expr("timestamp_micros(tsNanos DIV 1000)"))
      .withWatermark("eventTime", s"${lateNs / 1000000L + 2} milliseconds")
      .as[StreamingPivot.SessionEvent]
    val out = StreamingPivot.runAvailableNow(
      StreamingPivot.SessionizeLate(raw, gapNanos = H).toDF(),
      "sess_late_test", OutputMode.Append())
    out.as[StreamingPivot.SessionRow].collect().toSet shouldBe Set(
      StreamingPivot.SessionRow(1L, 0L, 2L, B / 1000, (B + H / 2) / 1000),
      StreamingPivot.SessionRow(1L, 1L, 1L, (B + 5 * H) / 1000, (B + 5 * H) / 1000),
      StreamingPivot.SessionRow(2L, 0L, 4L,
        (B + 9 * H / 10) / 1000, (B + 21 * H / 10) / 1000))
  }

  test("checkpointed restart: state survives the stop, only new files are read") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val srcDir = Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    def runOnce(name: String): Long = {
      val agg = spark.readStream.schema(schema).parquet(srcDir)
        .groupBy(col("k")).agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    Seq(("r1", 10L), ("r2", 5L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runOnce("ckpt_run1") shouldBe 2L
    // the query is STOPPED; more data lands; a new query resumes from the
    // same checkpoint
    Seq(("r1", 7L), ("r3", 1L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    // reads ONLY the new file (2 rows) — reprocessing old files onto the
    // restored state would double-count r1/r2, and a state reset would
    // need all 4 rows to produce the right totals
    runOnce("ckpt_run2") shouldBe 2L
    spark.table("ckpt_run2").as[(String, Long, Long)].collect().toSet shouldBe
      Set(("r1", 17L, 2L), ("r2", 5L, 1L), ("r3", 1L, 1L))
  }

  test("windowed sketch state serializes through the RocksDB state store") {
    // TypedImperativeAggregate buffers (SpaceSaving + KMV) must round-trip
    // the RocksDB provider's native state encoding, not just the in-memory
    // map — run the real stream_window_sketch aggregation under both
    // providers and require identical results
    import graft.functions.{KmvDistinctAgg, SpaceSavingAgg}
    import org.apache.spark.sql.functions._
    def run(provider: Option[String], name: String) = {
      val ev = StreamingPivot.eventsStream(spark, sfDir)
        .select(lpad(col("user_id").cast("string"), 8, "0").as("u"),
          expr("timestamp_micros(ts DIV 1000)").as("eventTime"))
        .withWatermark("eventTime", "1 hour")
      val agg = ev.groupBy(window(col("eventTime"), "1 hour"))
        .agg(SpaceSavingAgg.heavyHitters(col("u"), capacity = 4096, k = 3).as("top"),
          KmvDistinctAgg.kmvDistinct(col("u")).as("n_users"))
        .select(unix_micros(col("window.start")).as("w"), col("n_users"), col("top"))
      StreamingPivot.runAvailableNow(agg, name, stateStoreProvider = provider)
        .select(col("w"), col("n_users"), col("top").cast("string"))
        .as[(Long, Long, String)].collect().toSet
    }
    val mem = run(None, "sk_mem_out")
    val rocks = run(Some(StreamingPivot.RocksDbProvider), "sk_rocks_out")
    rocks.nonEmpty shouldBe true // functions.not shadows matcher `not` here
    rocks shouldBe mem
  }

  test("streaming availableNow result == batch pivot (parity on real data)") {
    val streamed = Queries.all("stream_pivot")(spark, sfDir)
    val cnt = streamed.count()
    // one row per (hour window, user) with >=1 event — same as batch GROUP BY
    import org.apache.spark.sql.functions._
    val expected = graft.kv.KvTable.events(spark, sfDir)
      .select(expr("tsNanos DIV 3600000000000").as("w"), col("user_id"))
      .distinct().count()
    cnt shouldBe expected
  }

  test("stream-static enrich: dim side is broadcast, result == batch join rollup") {
    import org.apache.spark.sql.functions._
    // the streaming plan must carry the broadcast hint on the static side
    val ev = StreamingPivot.eventsStream(spark, sfDir)
    val dim = graft.kv.KvTable.table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val enriched = StreamingPivot.enrichedNationCounts(ev, dim)
    enriched.queryExecution.analyzed.toString should include("ResolvedHint")
    val out = StreamingPivot.runAvailableNow(enriched, "spec_stream_enrich")
    val batch = graft.kv.KvTable.events(spark, sfDir)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(expr("tsNanos DIV 3600000000000").as("w"), col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"))
    out.agg(sum(col("n_events"))).head().getLong(0) shouldBe
      batch.agg(sum(col("n_events"))).head().getLong(0)
    out.count() shouldBe batch.count()
  }

  case class Ev(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double, props: String)

  test("stream-stream interval join: state carries clicks across micro-batches") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = StreamingPivot.intervalJoin(clicks.toDF(), purchases.toDF())
    val q = joined.writeStream.format("memory").queryName("sj_test")
      .outputMode(OutputMode.Append()).start()
    try {
      val h = 3600L * 1000000000L // one hour in nanos
      clicks.addData(
        Ev(1, 10 * h, 7, "click", 0.0, ""),
        Ev(2, 20 * h, 8, "click", 0.0, ""))
      q.processAllAvailable()
      // purchases arrive a LATER micro-batch: the matching click must still
      // be in join state
      purchases.addData(
        Ev(3, 12 * h, 7, "purchase", 1.25, ""), // 2h after click 1: match
        Ev(4, 15 * h, 7, "purchase", 2.0, ""), // 5h after: past the 4h gap
        Ev(5, 20 * h - 1, 8, "purchase", 3.0, "")) // before click 2: no match
      q.processAllAvailable()
      val rows = spark.table("sj_test")
        .select("click_id", "purchase_id", "user_id", "val_x100")
        .as[(Long, Long, Long, Long)].collect().toSet
      rows shouldBe Set((1L, 3L, 7L, 125L))
    } finally q.stop()
  }

  test("ingest dedup: redelivered events across micro-batches count once; the negative control inflates") {
    implicit val ctx = spark.sqlContext
    val h = 3600L * 1000000000L // one hour in nanos
    def ev(id: Long, hr: Long, typ: String, v: Double) =
      Ev(id, hr * h, id, typ, v, "")
    val in = MemoryStream[Ev]
    // the 4h delay mirrors the real query's staged-shuffle allowance: a
    // redelivery lands a later micro-batch but is NOT event-time late
    val counts = StreamingPivot.dedupedHourlyCounts(in.toDF(), watermark = "4 hours")
    val q = counts.writeStream.format("memory").queryName("sid_test")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(ev(1, 10, "click", 1.0), ev(2, 10, "click", 2.0),
        ev(3, 10, "view", 5.0))
      q.processAllAvailable()
      // the SAME events redelivered in a LATER micro-batch (the retry
      // shape) plus one genuinely new event; sentinel advances watermark
      in.addData(ev(1, 10, "click", 1.0), ev(3, 10, "view", 5.0),
        ev(4, 10, "click", 4.0))
      q.processAllAvailable()
      in.addData(ev(-1, 20, "click", 0.0)) // punctuation: flush hour 10
      q.processAllAvailable()
      val rows = spark.table("sid_test")
        .select("win_start_us", "event_type", "n_events", "val_x100")
        .as[(Long, String, Long, Long)].collect().toSet
      rows shouldBe Set(
        (10 * h / 1000, "click", 3L, 100L + 200L + 400L),
        (10 * h / 1000, "view", 1L, 500L))
      // negative control: the same replay WITHOUT dedup double-counts the
      // redelivered events — proving the operator, not the data, kept the
      // counts exact
      // NOTE: no pre-agg row filter here — a plain Filter would be pushed
      // below the EventTimeWatermark node and the punct row would never
      // advance the watermark (the real operator's filter sits behind the
      // stateful dedup, which pushdown cannot cross); the hour-10 window
      // is selected at assertion time instead
      val in2 = MemoryStream[Ev]
      val plain = in2.toDF()
        .selectExpr("event_type", "value",
          "timestamp_micros(ts DIV 1000) AS eventTime")
        .withWatermark("eventTime", "4 hours")
        .groupBy(org.apache.spark.sql.functions.window(
            org.apache.spark.sql.functions.col("eventTime"), "1 hour"),
          org.apache.spark.sql.functions.col("event_type"))
        .count()
      val q2 = plain.writeStream.format("memory").queryName("sid_plain")
        .outputMode(OutputMode.Append()).start()
      try {
        in2.addData(ev(1, 10, "click", 1.0), ev(2, 10, "click", 2.0))
        q2.processAllAvailable()
        in2.addData(ev(1, 10, "click", 1.0)) // redelivery, not deduped
        q2.processAllAvailable()
        in2.addData(ev(-1, 20, "click", 0.0))
        q2.processAllAvailable()
        in2.addData(ev(-1, 21, "click", 0.0)) // append emits a batch later
        q2.processAllAvailable()
        spark.table("sid_plain")
          .where(s"unix_micros(window.start) = ${10 * h / 1000}")
          .select("count")
          .as[Long].collect().sum shouldBe 3L // inflated: 2 events read as 3
      } finally q2.stop()
    } finally q.stop()
  }

  test("state-store count derives from state volume: floor 8, grows, capped") {
    import StreamingPivot.statePartitionsFor
    val cores = spark.sparkContext.defaultParallelism
    // toy volumes sit on the commit-I/O floor
    statePartitionsFor(spark, 0L) shouldBe 8
    statePartitionsFor(spark, 1L << 20) shouldBe 8
    // growth is monotone in the volume estimate
    val v1 = statePartitionsFor(spark, 1L << 30)
    val v2 = statePartitionsFor(spark, 8L << 30)
    val v3 = statePartitionsFor(spark, 64L << 30)
    assert(v1 <= v2 && v2 <= v3)
    assert(v3 > 8, "large state volumes must outgrow the toy-scale floor")
    // and capped at 4x cores so store count stops multiplying commits
    statePartitionsFor(spark, Long.MaxValue / 2) shouldBe (cores * 4)
    // the input-bytes proxy reads real file sizes
    val dir = java.nio.file.Files.createTempDirectory("graft_spp_test")
    val f = dir.resolve("a.bin")
    java.nio.file.Files.write(f, new Array[Byte](4096))
    StreamingPivot.inputBytes(spark, dir.toString) shouldBe 4096L
    java.nio.file.Files.delete(f); java.nio.file.Files.delete(dir)
  }
}
