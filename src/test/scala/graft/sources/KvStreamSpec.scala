package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.util.SerializableConfiguration

import graft.kv.{Cell, KvGenerator, RangeLayout}

/** The `graft-kv` micro-batch tail ([[KvTailStream]]): WAL-segment replay
  * order, admission control, checkpoint resume, and the reuse of the batch
  * scan's pushdown/pruning surface. In `graft.sources` so the offset logic
  * can be unit-driven without a running query.
  */
class KvStreamSpec extends graft.SparkSpec {

  /** Move the single part file of each chunk into `dir` under a
    * lexicographically increasing segment name (the WAL sequence-id
    * convention the tail documents).
    */
  private def stageSegments(dir: String, chunks: Seq[DataFrame], startIdx: Int = 0): Unit = {
    Files.createDirectories(Paths.get(dir))
    chunks.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"${dir}_tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head
      Files.move(part.toPath,
        Paths.get(dir, f"part-${startIdx + i}%05d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      graft.sinks.Sinks.deleteRecursive(spark, tmp)
    }
  }

  private lazy val allCells: DataFrame =
    KvGenerator.cells(spark, 500, 4, "runS").cache()

  /** 4 ts-range WAL segments of the generator cells. */
  private lazy val walDir: String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_wal_segments"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val n = allCells.count()
    val perSeg = (n / 4) + 1
    val chunks = (0 until 4).map { i =>
      allCells.filter(col("ts") >= i * perSeg && col("ts") < (i + 1) * perSeg)
    }
    stageSegments(d, chunks)
    d
  }

  private def tailStream(dir: String, maxFiles: Int = 1): DataFrame =
    spark.readStream.format("graft-kv")
      .option("maxFilesPerBatch", maxFiles).load(dir)

  private def runAvailableNow(df: DataFrame, name: String,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = df.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow())
    val q = checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
    q.awaitTermination()
    q
  }

  test("AvailableNow + maxFilesPerBatch=1 replays one WAL segment per micro-batch") {
    val q = runAvailableNow(
      tailStream(walDir).groupBy(col("qualifier")).count(), "kv_tail_counts")
    val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
    dataBatches.length shouldBe 4
    q.recentProgress.map(_.numInputRows).sum shouldBe allCells.count()
    // complete-mode final state equals the batch aggregate
    val got = spark.table("kv_tail_counts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = allCells.groupBy(col("qualifier")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe want
  }

  test("qualifier scope option is enforced inside the source (numInputRows, not a residual)") {
    // Catalyst's V2 filter pushdown only rewrites BATCH scan relations; a
    // stream scopes itself via options (the replication-peer-config analog).
    val scoped = spark.readStream.format("graft-kv")
      .option("maxFilesPerBatch", 4).option("qualifier", "C2").load(walDir)
    val q = runAvailableNow(
      scoped.groupBy(col("rowKey")).count(), "kv_tail_filtered")
    val emitted = q.recentProgress.map(_.numInputRows).sum
    val matching = allCells.filter(col("qualifier") === "C2").count()
    emitted shouldBe matching // an un-scoped source would have emitted all rows
    matching should be < allCells.count()
    spark.table("kv_tail_filtered").count() shouldBe
      allCells.filter(col("qualifier") === "C2").select("rowKey").distinct().count()
  }

  test("scope options work identically on the batch read") {
    val scoped = spark.read.format("graft-kv")
      .option("qualifier", "C2").option("minRowKey", "00100")
      .option("maxRowKey", "00200").load(walDir)
    val want = allCells.filter(col("qualifier") === "C2" &&
      col("rowKey") >= "00100" && col("rowKey") < "00200")
    scoped.count() shouldBe want.count()
    scoped.queryExecution.executedPlan.toString should include("EqualTo(qualifier,C2)")
  }

  test("checkpoint resume: a restart consumes only segments appended after the last offset") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_wal_resume"
    val cp = s"${sys.props("java.io.tmpdir")}/graft_test/kv_wal_resume_cp"
    Seq(d, cp).foreach(graft.sinks.Sinks.deleteRecursive(spark, _))
    val n = allCells.count()
    val perSeg = (n / 4) + 1
    val chunks = (0 until 4).map { i =>
      allCells.filter(col("ts") >= i * perSeg && col("ts") < (i + 1) * perSeg)
    }
    stageSegments(d, chunks.take(3))
    val agg = tailStream(d).groupBy(col("qualifier")).count()
    val q1 = runAvailableNow(agg, "kv_tail_resume", Some(cp))
    q1.recentProgress.filter(_.numInputRows > 0).length shouldBe 3
    // seal a new segment AFTER the consumed watermark, restart from checkpoint
    stageSegments(d, Seq(chunks(3)), startIdx = 3)
    val q2 = runAvailableNow(agg, "kv_tail_resume", Some(cp))
    val resumed = q2.recentProgress.filter(_.numInputRows > 0)
    resumed.length shouldBe 1
    resumed.head.numInputRows shouldBe chunks(3).count()
    // and the recovered complete-mode state covers ALL segments
    spark.table("kv_tail_resume").agg(sum(col("count"))).collect()(0).getLong(0) shouldBe n
  }

  test("offset watermark is the last consumed segment name; admission caps each batch") {
    val stream = new KvTailStream(walDir, Cell.schema, Array.empty, Some(1),
      KvScanBuilder.activeConf)
    stream.prepareForTriggerAvailableNow()
    val start = stream.initialOffset()
    val o1 = stream.latestOffset(start, ReadLimit.maxFiles(1))
    o1.asInstanceOf[KvWalOffset].watermark shouldBe "part-00000.parquet"
    stream.planInputPartitions(start, o1).length shouldBe 1
    val o2 = stream.latestOffset(o1, ReadLimit.maxFiles(1))
    o2.asInstanceOf[KvWalOffset].watermark shouldBe "part-00001.parquet"
    // round-trip through the offset log
    stream.deserializeOffset(o2.json()) shouldBe o2
    // drained: latestOffset returns start unchanged
    val o3 = stream.latestOffset(stream.deserializeOffset("part-00003.parquet"),
      ReadLimit.maxFiles(1))
    o3.asInstanceOf[KvWalOffset].watermark shouldBe "part-00003.parquet"
  }

  test("streaming sink seals sorted epoch segments; tail→sink is a working replication pipe") {
    val dst = s"${sys.props("java.io.tmpdir")}/graft_test/kv_pipe_dst"
    val cp = s"${sys.props("java.io.tmpdir")}/graft_test/kv_pipe_cp"
    Seq(dst, cp).foreach(graft.sinks.Sinks.deleteRecursive(spark, _))
    val q = tailStream(walDir, maxFiles = 1).writeStream
      .format("graft-kv").option("regions", 2)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start(dst)
    q.awaitTermination()
    // landed table equals the source table
    val landed = spark.read.format("graft-kv").load(dst)
    landed.count() shouldBe allCells.count()
    landed.select(sum(col("ts"))).collect()(0).getLong(0) shouldBe
      allCells.select(sum(col("ts"))).collect()(0).getLong(0)
    // segment names are deterministic per (epoch, region) and epoch-monotone
    val names = new java.io.File(dst).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted
    all(names) should fullyMatch regex "part-e\\d{10}-[A-Za-z0-9]{4,16}-\\d{5}\\.parquet"
    names.map(_.substring(6, 16)).distinct.length shouldBe 4 // one epoch per segment
    // each sealed segment honors the sink's (rowKey, qualifier) sort contract
    import spark.implicits._
    names.take(2).foreach { f =>
      val keys = spark.read.parquet(s"$dst/$f")
        .select(col("rowKey"), col("qualifier")).as[(String, String)].collect().toSeq
      keys shouldBe keys.sorted
    }
    // and the landed table itself can be tailed (pipe composes)
    val q2 = runAvailableNow(
      tailStream(dst, maxFiles = 100).groupBy(col("family")).count(), "kv_pipe_retail")
    spark.table("kv_pipe_retail").collect().map(_.getLong(1)).sum shouldBe allCells.count()
    q2.recentProgress.filter(_.numInputRows > 0).length should be >= 1
  }

  test("streaming writes into a salted catalog table sink-salt per epoch; the salt stays invisible") {
    import spark.implicits._
    val cat = "graftcat_saltstream"
    val wh = s"${sys.props("java.io.tmpdir")}/graft_test/kv_saltstream_wh"
    graft.sinks.Sinks.deleteRecursive(spark, wh)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftKvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.s")
    spark.sql(
      s"""CREATE TABLE $cat.s.t (
         |  rowKey STRING, family STRING, qualifier STRING,
         |  value BINARY, ts BIGINT)
         |USING `graft-kv`
         |TBLPROPERTIES ('regions' = '2', 'salt_buckets' = '4')""".stripMargin)
    val cp = s"${sys.props("java.io.tmpdir")}/graft_test/kv_saltstream_cp"
    graft.sinks.Sinks.deleteRecursive(spark, cp)
    // LOGICAL keys in, two epochs — the sink applies the salt per epoch
    val q = tailStream(walDir, maxFiles = 2).writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).toTable(s"$cat.s.t")
    q.awaitTermination()
    // end to end the salt is invisible: same rows, logical keys out
    val landed = spark.table(s"$cat.s.t")
    landed.count() shouldBe allCells.count()
    landed.select("rowKey").distinct().as[String].collect().toSet shouldBe
      allCells.select("rowKey").distinct().as[String].collect().toSet
    landed.agg(sum(col("ts"))).head().getLong(0) shouldBe
      allCells.agg(sum(col("ts"))).head().getLong(0)
    // the STORED layout is salted: raw parquet shows prefixed keys, and
    // every sealed epoch file is stored-key-sorted (the demux contract)
    val dir = s"$wh/s/t"
    val stored = spark.read.parquet(dir).select("rowKey").as[String].collect()
    all(stored.toSeq) should fullyMatch regex "\\d{3}\\|.*"
    val files = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    files.take(3).foreach { f =>
      val keys = spark.read.parquet(s"$dir/$f")
        .select("rowKey").as[String].collect().toSeq
      keys shouldBe keys.sorted
    }
    // point lookup by logical key prunes and answers by name
    val probe = allCells.select("rowKey").head().getString(0)
    spark.table(s"$cat.s.t").filter(col("rowKey") === probe).count() should be > 0L
    // a compaction normalizes the epoch pile-up and the layout certifies
    // per-partition logical-key contiguity (the zero-exchange pivot tier)
    KvCompactor.compact(spark, dir, regions = 2) shouldBe a[KvCompactor.Compacted]
    assert(KvTableInfo.keyContiguousRegions(spark, dir),
      "compacted sink-salted streaming table must certify contiguity")
    spark.table(s"$cat.s.t").count() shouldBe allCells.count()
  }

  test("scan statistics are pruning-aware: a key-range scan reports only kept regions") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_stats_ranged"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    RangeLayout.layout(allCells, 8).write.mode("overwrite").parquet(d)
    val full = new KvScan(d, Cell.schema, Array.empty)
    val fullStats = full.estimateStatistics()
    fullStats.numRows().getAsLong shouldBe allCells.count()
    val pushed: Array[org.apache.spark.sql.sources.Filter] = Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("rowKey", "00100"),
      org.apache.spark.sql.sources.LessThan("rowKey", "00200"))
    val ranged = new KvScan(d, Cell.schema, pushed)
    val rangedStats = ranged.estimateStatistics()
    assert(rangedStats.sizeInBytes().getAsLong < fullStats.sizeInBytes().getAsLong,
      "pruned scan must report a smaller size than the full table")
    assert(rangedStats.numRows().getAsLong < fullStats.numRows().getAsLong)
    rangedStats.sizeInBytes().getAsLong should be > 0L
  }

  // ---------------------------------------------------------- manifest log

  /** Hadoop conf with the metering `cfs:` filesystem registered. */
  private def countingConf: Configuration = {
    val c = new Configuration(spark.sessionState.newHadoopConf())
    c.set("fs.cfs.impl", classOf[CountingFileSystem].getName)
    c
  }

  private def offsetOf(o: org.apache.spark.sql.connector.read.streaming.Offset): String =
    o.asInstanceOf[KvWalOffset].watermark

  /** A manifest-logged table over the `cfs:` metering filesystem: 6 staged
    * segments, the first 4 published as two 2-file commits (the remaining 2
    * stay unreferenced — manifest readers must never see them).
    */
  private lazy val loggedDir: String = {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test/kv_log_counting"
    graft.sinks.Sinks.deleteRecursive(spark, base)
    val n = allCells.count()
    val perSeg = (n / 6) + 1
    stageSegments(base, (0 until 6).map { i =>
      allCells.filter(col("ts") >= i * perSeg && col("ts") < (i + 1) * perSeg)
    })
    val table = new Path(s"cfs:$base")
    val fs = table.getFileSystem(countingConf)
    KvLog.append(fs, table, Seq("part-00000.parquet", "part-00001.parquet"))
    KvLog.append(fs, table, Seq("part-00002.parquet", "part-00003.parquet"))
    s"cfs:$base"
  }

  test("log mode: admission does ZERO directory listings and O(new commits) probes") {
    val conf = countingConf
    val table = new Path(loggedDir)
    val fs = table.getFileSystem(conf)
    val stream = new KvTailStream(loggedDir, Cell.schema, Array.empty, None,
      new SerializableConfiguration(conf))
    val start = stream.initialOffset()
    offsetOf(start) shouldBe "log:0:0"
    CountingFileSystem.reset()
    val o1 = stream.latestOffset(start, ReadLimit.allAvailable())
    offsetOf(o1) shouldBe "log:2:0"
    val parts = stream.planInputPartitions(start, o1)
    parts.length shouldBe 4 // published commits only, never the stray files
    CountingFileSystem.lists.get shouldBe 0 // the scaladoc claim, literally
    // steady state (drained): still zero listings, constant probe cost
    CountingFileSystem.reset()
    stream.latestOffset(o1, ReadLimit.allAvailable()) shouldBe o1
    CountingFileSystem.lists.get shouldBe 0
    val steady = CountingFileSystem.probes.get
    steady should be <= 10L
    // one new commit: steady cost + O(1) for the new entry, no listing
    KvLog.append(fs, table, Seq("part-00004.parquet"))
    CountingFileSystem.reset()
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
    offsetOf(o2) shouldBe "log:3:0"
    CountingFileSystem.lists.get shouldBe 0
    CountingFileSystem.probes.get should be <= steady + 8
    // contrast: LEGACY listing admission lists the directory EVERY batch
    val legacy = new KvTailStream(s"cfs:$walDir", Cell.schema, Array.empty, None,
      new SerializableConfiguration(conf))
    CountingFileSystem.reset()
    legacy.latestOffset(KvWalOffset(""), ReadLimit.allAvailable())
    CountingFileSystem.lists.get should be >= 1L
  }

  test("byte-capped admission paces by manifest sizes; streaming pruning never opens a footer") {
    // a SINK-written pile (entries carry stats) over the metering fs
    val base = s"${sys.props("java.io.tmpdir")}/graft_test/kv_stream_bytes"
    graft.sinks.Sinks.deleteRecursive(spark, base)
    spark.sparkContext.hadoopConfiguration.set("fs.cfs.impl",
      classOf[CountingFileSystem].getName)
    val d = s"cfs:$base"
    (0 until 4).foreach { i =>
      allCells.filter(pmod(col("ts"), lit(4)) === i)
        .write.format("graft-kv").option("regions", 1).mode("append").save(d)
    }
    val sconf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val table = new Path(d)
    val fs = table.getFileSystem(sconf.value)
    val sizes = KvLog.liveFileStats(fs, table).values.map(_.bytes)
    sizes.size shouldBe 4
    // budget below any two files: every batch admits exactly one — and the
    // admission walk reads sizes from the LOG, not getFileStatus
    val budget = sizes.min + 1
    val s1 = new KvTailStream(d, Cell.schema, Array.empty, None, sconf,
      None, Some(budget))
    val start = s1.initialOffset()
    CountingFileSystem.reset()
    val o1 = s1.latestOffset(start, s1.getDefaultReadLimit)
    s1.planInputPartitions(start, o1).length shouldBe 1
    CountingFileSystem.dataOpens.get shouldBe 0 // no footer, no size probe reads
    val o2 = s1.latestOffset(o1, s1.getDefaultReadLimit)
    s1.planInputPartitions(o1, o2).length shouldBe 1
    // a large budget drains the rest in one batch
    val o3 = s1.latestOffset(o2, ReadLimit.maxBytes(Long.MaxValue))
    s1.planInputPartitions(o2, o3).length shouldBe 2
    // composite: the tighter of the two caps wins
    val s2 = new KvTailStream(d, Cell.schema, Array.empty, Some(1), sconf,
      None, Some(Long.MaxValue))
    s2.getDefaultReadLimit shouldBe a[
      org.apache.spark.sql.connector.read.streaming.CompositeReadLimit]
    val c1 = s2.latestOffset(start, s2.getDefaultReadLimit)
    s2.planInputPartitions(start, c1).length shouldBe 1
    // an oversized single segment still makes progress under a tiny budget
    val s3 = new KvTailStream(d, Cell.schema, Array.empty, None, sconf,
      None, Some(1L))
    val t1 = s3.latestOffset(start, s3.getDefaultReadLimit)
    s3.planInputPartitions(start, t1).length shouldBe 1
    // streaming REGION PRUNING from the entries' stats: a scoped tail
    // plans its partitions without opening one data file
    val lo = allCells.agg(min(col("rowKey"))).collect()(0).getString(0)
    val pruned = new KvTailStream(d, Cell.schema,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("rowKey", lo),
        org.apache.spark.sql.sources.LessThan("rowKey", lo + "~")),
      None, sconf)
    val pEnd = pruned.latestOffset(start, ReadLimit.allAvailable())
    CountingFileSystem.reset()
    val parts = pruned.planInputPartitions(start, pEnd)
    CountingFileSystem.dataOpens.get shouldBe 0
    assert(parts.length <= 4)
  }

  test("log mode: maxFilesPerBatch=1 paces WITHIN a multi-file commit; a mid-entry checkpoint resumes") {
    val sconf = new SerializableConfiguration(countingConf)
    val stream = new KvTailStream(loggedDir, Cell.schema, Array.empty, Some(1), sconf)
    val start = stream.initialOffset()
    val o1 = stream.latestOffset(start, ReadLimit.maxFiles(1))
    offsetOf(o1) shouldBe "log:0:1" // capped mid-entry, not at a commit boundary
    val p1 = stream.planInputPartitions(start, o1)
    p1.map(_.asInstanceOf[KvFilePartition].file) should have length 1
    p1.head.asInstanceOf[KvFilePartition].file should endWith("part-00000.parquet")
    // recovery: a NEW stream resumes from the serialized mid-entry offset
    val resumed = new KvTailStream(loggedDir, Cell.schema, Array.empty, Some(1), sconf)
    val r0 = resumed.deserializeOffset(o1.json())
    val r1 = resumed.latestOffset(r0, ReadLimit.maxFiles(1))
    offsetOf(r1) shouldBe "log:1:0" // second file of entry 0 consumed
    val p2 = resumed.planInputPartitions(r0, r1)
    p2.head.asInstanceOf[KvFilePartition].file should endWith("part-00001.parquet")
  }

  test("a stale or torn _latest hint self-heals by probing forward") {
    val conf = countingConf
    val table = new Path(loggedDir)
    val fs = table.getFileSystem(conf)
    val latest = KvLog.latestSeq(fs, table)
    val hint = new Path(table, "_log/_latest")
    def overwrite(s: String): Unit = {
      val out = fs.create(hint, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    try {
      overwrite("0") // stale: crash between entry rename and hint update
      KvLog.latestSeq(fs, table) shouldBe latest
      overwrite("not-a-seq") // torn: unparseable hint is ignored, not fatal
      KvLog.latestSeq(fs, table) shouldBe latest
    } finally overwrite(latest.toString)
  }

  test("a replayed streaming epoch commit is a pure no-op: manifest and targets untouched") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_epoch_replay"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val conf = spark.sessionState.newHadoopConf()
    val sconf = new SerializableConfiguration(conf)
    val table = new Path(d)
    val fs = table.getFileSystem(conf)
    def stageAttempt(name: String): String = {
      val tmp = s"${d}_stage_$name"
      allCells.limit(5).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      part.getAbsolutePath
    }
    new KvStreamingWrite(d, Cell.schema, "q1", sconf)
      .commit(0, Array(KvWriteCommit(Seq(KvStagedFile(stageAttempt("a"), 0)))))
    val live1 = KvLog.liveFiles(fs, table)
    live1 shouldBe Seq("part-e0000000000-q100-00000.parquet")
    // recovery re-runs epoch 0 (failure AFTER the full commit, before
    // Spark's checkpoint write) — and the replay seals a DIFFERENT
    // non-empty region set, the hazard case: honoring it would leave the
    // manifest pointing at deleted files
    new KvStreamingWrite(d, Cell.schema, "q1", sconf)
      .commit(0, Array(KvWriteCommit(Nil),
        KvWriteCommit(Seq(KvStagedFile(stageAttempt("b"), 1)))))
    KvLog.liveFiles(fs, table) shouldBe live1
    fs.exists(new Path(d, "part-e0000000000-q100-00000.parquet")) shouldBe true
    fs.exists(new Path(d, "part-e0000000000-q100-00001.parquet")) shouldBe false
    // defense in depth: the log-level writer-tag dedup returns the existing
    // seq instead of appending
    KvLog.append(fs, table, Seq("x.parquet"), writer = Some("q1:0")) shouldBe 0L
    KvLog.latestSeq(fs, table) shouldBe 0L
  }

  test("TWO streaming queries appending to one table never collide; each replays only its own epochs") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_two_writers"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val conf = spark.sessionState.newHadoopConf()
    val sconf = new SerializableConfiguration(conf)
    val table = new Path(d)
    val fs = table.getFileSystem(conf)
    def stageAttempt(name: String, rows: Int): String = {
      val tmp = s"${d}_stage_$name"
      allCells.limit(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head.getAbsolutePath
    }
    // both queries commit THE SAME epoch number — the collision case the
    // per-query name token exists for
    new KvStreamingWrite(d, Cell.schema, "qA", sconf)
      .commit(0, Array(KvWriteCommit(Seq(KvStagedFile(stageAttempt("a", 5), 0)))))
    new KvStreamingWrite(d, Cell.schema, "qB", sconf)
      .commit(0, Array(KvWriteCommit(Seq(KvStagedFile(stageAttempt("b", 7), 0)))))
    val live = KvLog.liveFiles(fs, table).sorted
    live.length shouldBe 2
    live.count(_.contains("-qA00-")) shouldBe 1
    live.count(_.contains("-qB00-")) shouldBe 1
    spark.read.format("graft-kv").load(d).count() shouldBe 12
    // qA's epoch 0 replays AFTER qB's commit: the latest entry carries
    // qB's tag, so the tag check misses — the live-prefix check must make
    // the replay a no-op instead of re-renaming and double-appending
    new KvStreamingWrite(d, Cell.schema, "qA", sconf)
      .commit(0, Array(KvWriteCommit(Seq(KvStagedFile(stageAttempt("a2", 3), 0)))))
    KvLog.liveFiles(fs, table).sorted shouldBe live
    KvLog.latestSeq(fs, table) shouldBe 1L
    spark.read.format("graft-kv").load(d).count() shouldBe 12
    graft.sources.KvFsck.check(spark, d).healthy shouldBe true
  }

  test("an epoch replay AFTER its files were compacted away is still a no-op (writer-hint layer)") {
    // the hazard: commit epoch 0, compaction merges its files (e.g. the
    // maintain=true post-epoch hook), driver crashes before Spark's commit
    // log records the batch, epoch 0 replays — the latest entry is the
    // compaction's and the epoch's files are no longer live, so without
    // the writer hint the replay would re-commit (doubled cells) and its
    // hygiene delete would hit pending-removal files inside vacuum grace
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_replay_compact"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val conf = spark.sessionState.newHadoopConf()
    val sconf = new SerializableConfiguration(conf)
    val table = new Path(d)
    val fs = table.getFileSystem(conf)
    def stageAttempt(name: String): String = {
      val tmp = s"${d}_stage_$name"
      allCells.limit(20).coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head.getAbsolutePath
    }
    val w = new KvStreamingWrite(d, Cell.schema, "qM", sconf)
    w.commit(0, Array(KvWriteCommit(Seq(KvStagedFile(stageAttempt("a"), 0)))))
    w.commit(1, Array(KvWriteCommit(Seq(KvStagedFile(stageAttempt("b"), 0)))))
    val n = spark.read.format("graft-kv").load(d).count()
    KvCompactor.compact(spark, d, regions = 1) shouldBe a[KvCompactor.Compacted]
    val liveAfterCompact = KvLog.liveFiles(fs, table)
    // epoch 1 replays post-compaction: must be a pure no-op
    new KvStreamingWrite(d, Cell.schema, "qM", sconf)
      .commit(1, Array(KvWriteCommit(Seq(KvStagedFile(stageAttempt("b2"), 0)))))
    KvLog.liveFiles(fs, table) shouldBe liveAfterCompact
    spark.read.format("graft-kv").load(d).count() shouldBe n
    // the compacted-away epoch files (pending removal) were not touched
    graft.sources.KvFsck.check(spark, d).pendingRemovals shouldBe 2
  }

  test("first logged commit on a legacy table SEEDS the manifest: pre-existing segments stay visible") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_legacy_seed"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val n = allCells.count()
    val perSeg = (n / 2) + 1
    stageSegments(d, (0 until 2).map { i =>
      allCells.filter(col("ts") >= i * perSeg && col("ts") < (i + 1) * perSeg)
    })
    spark.read.format("graft-kv").load(d).count() shouldBe n // legacy listing read
    // non-truncate batch append through the sink — the visibility-flip case
    val extra = KvGenerator.cells(spark, 40, 2, "runX")
    extra.write.format("graft-kv").option("regions", 2).mode("append").save(d)
    spark.read.format("graft-kv").load(d).count() shouldBe n + extra.count()
    val fs = new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
    val seed = KvLog.read(fs, new Path(d), 0L).get
    seed.compact shouldBe true // the seed is a live-set checkpoint
    seed.adds should contain allOf ("part-00000.parquet", "part-00001.parquet")
    // and a fresh tail of the migrated table delivers the WHOLE table
    // (seeded segments through the horizon sentinel + the appended commit)
    val q = runAvailableNow(
      tailStream(d, maxFiles = 100).groupBy(col("family")).count(), "kv_seed_tail")
    spark.table("kv_seed_tail").collect().map(_.getLong(1)).sum shouldBe n + extra.count()
  }

  test("a checkpointed tail below the compaction floor fails loudly; a fresh tail starts at the horizon") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_horizon"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val n = allCells.count()
    val perSeg = (n / 2) + 1
    stageSegments(d, (0 until 2).map { i =>
      allCells.filter(col("ts") >= i * perSeg && col("ts") < (i + 1) * perSeg)
    })
    val conf = spark.sessionState.newHadoopConf()
    val sconf = new SerializableConfiguration(conf)
    val table = new Path(d)
    val fs = table.getFileSystem(conf)
    KvLog.append(fs, table, Seq("part-00000.parquet"))
    KvLog.append(fs, table, Seq("part-00001.parquet"))
    // a compaction checkpoint: the live set republished at seq 2
    KvLog.append(fs, table, Seq("part-00000.parquet", "part-00001.parquet"),
      compact = true) shouldBe 2L
    val stream = new KvTailStream(d, Cell.schema, Array.empty, None, sconf)
    // checkpoint below the horizon: segments may be merged away — loud failure
    val behind = stream.deserializeOffset("log:0:0")
    val ex = intercept[IllegalStateException] {
      stream.latestOffset(behind, ReadLimit.allAvailable())
    }
    ex.getMessage should include("behind the compaction floor")
    // fresh tail: starts AT the horizon (sentinel) and receives the live set
    val start = stream.initialOffset()
    offsetOf(start) shouldBe "log:2:-1"
    val o1 = stream.latestOffset(start, ReadLimit.allAvailable())
    offsetOf(o1) shouldBe "log:3:0"
    stream.planInputPartitions(start, o1).length shouldBe 2
    // a tail that ADVANCED to the compact entry gets NOTHING from it — its
    // contents were already delivered by the original appends
    val through = stream.deserializeOffset("log:2:0")
    stream.latestOffset(through, ReadLimit.allAvailable()) shouldBe through
  }

  test("sinceSeq resumes a fresh tail exactly after the named commit — the CDC recovery bridge") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_since_seq"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    // three sink commits (seq 0, 1, 2), split deterministically by ts
    (0 until 3).foreach { i =>
      allCells.filter(pmod(col("ts"), lit(3)) === i)
        .write.format("graft-kv").option("regions", 2).mode("append").save(d)
    }
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(d)
    val fs = table.getFileSystem(conf)
    KvLog.latestSeq(fs, table) shouldBe 2L
    // the recovery scenario: the Spark checkpoint is GONE but the
    // pipeline knows it consumed through seq 0 — resume from there
    val cp = s"${d}_resume_cp"
    graft.sinks.Sinks.deleteRecursive(spark, cp)
    val q = spark.readStream.format("graft-kv").option("sinceSeq", 0)
      .load(d)
      .writeStream.format("memory").queryName("since_resume")
      .outputMode("append").option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("since_resume")
      .select(col("rowKey"), col("qualifier"), col("ts")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = allCells.filter(pmod(col("ts"), lit(3)) =!= 0)
      .select(col("rowKey"), col("qualifier"), col("ts")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    got shouldBe want // commits 1..2 exactly: no replays, no gaps
    // a resume position beyond the log refuses loudly
    val sconf = new SerializableConfiguration(conf)
    an[IllegalArgumentException] should be thrownBy
      new KvTailStream(d, Cell.schema, Array.empty, None, sconf,
        sinceSeq = Some(99L)).initialOffset()
    // sinceSeq names a LOG position: a legacy (log-less) dir refuses
    val legacy = s"${sys.props("java.io.tmpdir")}/graft_test/kv_since_legacy"
    graft.sinks.Sinks.deleteRecursive(spark, legacy)
    stageSegments(legacy, Seq(allCells.limit(10)))
    an[IllegalArgumentException] should be thrownBy
      new KvTailStream(legacy, Cell.schema, Array.empty, None, sconf,
        sinceSeq = Some(0L)).initialOffset()
    // below the compaction floor the bridge refuses like the batch CDC
    // read: compact fully, then ask for the merged-away span
    KvCompactor.compact(spark, d, regions = 2) shouldBe a[KvCompactor.Compacted]
    val floored = new KvTailStream(d, Cell.schema, Array.empty, None, sconf,
      sinceSeq = Some(0L))
    val ex = intercept[IllegalStateException] {
      floored.latestOffset(floored.initialOffset(), ReadLimit.allAvailable())
    }
    ex.getMessage should include("behind the compaction floor")
    ex.getMessage should include("sinceSeq")
  }

  test("AvailableNow cap and offset MODE mismatch fails loudly, both directions") {
    val conf = countingConf
    val sconf = new SerializableConfiguration(conf)
    // log-mode table, listing-mode checkpoint (a _log created across restart)
    val logged = new KvTailStream(loggedDir, Cell.schema, Array.empty, None, sconf)
    logged.prepareForTriggerAvailableNow()
    val ex1 = intercept[IllegalStateException] {
      logged.latestOffset(KvWalOffset("part-00000.parquet"), ReadLimit.allAvailable())
    }
    ex1.getMessage should include("pinned in log mode")
    // legacy table, log-mode checkpoint (a _log removed across restart)
    val legacy = new KvTailStream(s"cfs:$walDir", Cell.schema, Array.empty, None, sconf)
    legacy.prepareForTriggerAvailableNow()
    val ex2 = intercept[IllegalStateException] {
      legacy.latestOffset(KvWalOffset("log:0:0"), ReadLimit.allAvailable())
    }
    ex2.getMessage should include("pinned in listing mode")
  }

  test("rowKey bounds prune WAL segments from a batch's partition list") {
    // key-ranged segments (the sorted region layout): pruning has something
    // to cut only when segments carry disjoint key ranges
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_wal_ranged"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    RangeLayout.layout(allCells, 8).write.mode("overwrite").parquet(d)
    val pushed: Array[org.apache.spark.sql.sources.Filter] = Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("rowKey", "00100"),
      org.apache.spark.sql.sources.LessThan("rowKey", "00200"))
    val stream = new KvTailStream(d, Cell.schema, pushed, None,
      KvScanBuilder.activeConf)
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, ReadLimit.allAvailable())
    val parts = stream.planInputPartitions(start, end)
    assert(parts.length < 8, s"expected segment pruning, got ${parts.length}/8")
    assert(parts.nonEmpty)
  }
}
