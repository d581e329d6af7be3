package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.kv.KvGenerator

/** [[KvCompactor]]: the major-compaction cycle over the manifest log —
  * merge correctness, the all-or-nothing publish, horizon/tail interplay,
  * and the WAL-cleanup gating contract (a registered tail's progress parks
  * compaction; HBase gates WAL deletion on replication peers the same way).
  */
class KvCompactionSpec extends graft.SparkSpec {

  private lazy val cells: DataFrame = KvGenerator.cells(spark, 400, 4, "runC").cache()

  /** A fresh pile-up table: `commits` batch appends through the sink, each
    * sealing its own region-file set (the memstore-flush accumulation).
    */
  private def pileUp(name: String, commits: Int = 3, regions: Int = 2): String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/$name"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    (0 until commits).foreach { i =>
      cells.filter(pmod(col("ts"), lit(commits)) === i)
        .write.format("graft-kv").option("regions", regions)
        .mode("append").save(d)
    }
    d
  }

  private def fsOf(d: String) =
    new Path(d).getFileSystem(spark.sessionState.newHadoopConf())

  test("compaction re-codecs the table when asked: merged outputs land zstd, cells unchanged") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_compact_codec"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val cells = graft.kv.KvGenerator.cells(spark, 1000, 4, "runCC")
    (0 until 3).foreach { i =>
      cells.filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("ts"),
          org.apache.spark.sql.functions.lit(3)) === i)
        .write.format("graft-kv").option("regions", 2).mode("append").save(d)
    }
    val before = spark.read.format("graft-kv").load(d).count()
    KvCompactor.compact(spark, d, regions = 2, codec = Some("zstd")) shouldBe
      a[KvCompactor.Compacted]
    val fs = new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
    val live = KvLog.liveFiles(fs, new Path(d))
    live.foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(d, f), spark.sessionState.newHadoopConf()))
      try r.getRowGroups.get(0).getColumns.get(0).getCodec.name() shouldBe "ZSTD"
      finally r.close()
    }
    spark.read.format("graft-kv").load(d).count() shouldBe before
  }

  test("compaction merges the pile-up into range-sorted region files; not one visible cell changes") {
    val d = pileUp("kv_compact_merge")
    val before = spark.read.format("graft-kv").load(d)
      .select(count(lit(1)), sum(col("ts")), max(col("rowKey"))).collect()(0)
    val fs = fsOf(d)
    KvLog.liveFiles(fs, new Path(d)).size shouldBe 6 // 3 commits x 2 regions
    // an "in-flight scan" holding pre-publish file paths (a reader planned
    // before the compaction commits): must still read after the publish
    val prePublish = spark.read.parquet(
      KvLog.liveFiles(fs, new Path(d)).map(f => s"$d/$f"): _*)
    val res = KvCompactor.compact(spark, d, regions = 3)
    val seq = res match {
      case KvCompactor.Compacted(s, merged, into, _) =>
        merged shouldBe 6; into shouldBe 3; s
      case p => fail(s"expected Compacted, got $p")
    }
    // the manifest now replays from the horizon checkpoint: 3 files only
    KvLog.horizon(fs, new Path(d)) shouldBe seq
    val live = KvLog.liveFiles(fs, new Path(d))
    live should have size 3
    all(live) should startWith("part-c")
    // merged-away segments STAY on disk (deferred to vacuum's grace): the
    // directory holds originals + merged, the manifest hides the originals
    fs.listStatus(new Path(d)).map(_.getPath.getName)
      .count(n => n.startsWith("part-") && n.endsWith(".parquet")) shouldBe 9
    // the pre-publish reader finishes against the surviving originals
    prePublish.count() shouldBe before.getLong(0)
    // scan equality: compaction changed the layout, not the data
    val after = spark.read.format("graft-kv").load(d)
      .select(count(lit(1)), sum(col("ts")), max(col("rowKey"))).collect()(0)
    after shouldBe before
    // vacuum inside the grace window reclaims nothing (removal is recent,
    // whatever the segments' own mtimes say)...
    KvVacuum.vacuum(spark, d, graceMs = 3600 * 1000) shouldBe
      KvVacuum.Vacuumed(0, 0, 0)
    // ...and once the removing entry's grace expires, exactly the 6
    // merged-away originals go; the live set and the data are untouched
    KvLog.backdateEntry(fs, new Path(d), seq, 1000L)
    KvVacuum.vacuum(spark, d, graceMs = 3600 * 1000) match {
      case v: KvVacuum.Vacuumed =>
        v.deletedFiles shouldBe 6; v.deletedBytes should be > 0L
      case r => fail(s"expected Vacuumed, got $r")
    }
    fs.listStatus(new Path(d)).map(_.getPath.getName)
      .count(n => n.startsWith("part-") && n.endsWith(".parquet")) shouldBe 3
    spark.read.format("graft-kv").load(d)
      .select(count(lit(1)), sum(col("ts")), max(col("rowKey")))
      .collect()(0) shouldBe before
    // each merged file honors the bulk-load sort contract
    import spark.implicits._
    live.foreach { f =>
      val keys = spark.read.parquet(s"$d/$f")
        .select(col("rowKey"), col("qualifier")).as[(String, String)].collect().toSeq
      keys shouldBe keys.sorted
    }
    // idempotence: an already-compacted table parks
    KvCompactor.compact(spark, d, regions = 3) shouldBe
      KvCompactor.Parked(s"already compacted at seq $seq")
  }

  test("selectTier laws: equal cohorts merge, geometric sizes park, the cap and preference order hold") {
    def f(n: String, seq: Long, b: Long) = (n, seq, b)
    val m = KvCompactor.Minor(maxMerge = 4, sizeRatio = 1.2)
    // an equal-size cohort merges whole, capped at maxMerge
    KvCompactor.selectTier(
      (1 to 6).map(i => f(s"s$i", i.toLong, 100L)), m).size shouldBe 4
    // geometric sizes: no member is within ratio of the others' sum — park
    KvCompactor.selectTier(
      Seq(f("a", 0, 1), f("b", 1, 10), f("c", 2, 100)), m) shouldBe Nil
    // a tiny outlier rides along with an in-ratio cohort for free (the
    // window stays valid, one more file retired)...
    val mixed = KvCompactor.selectTier(
      Seq(f("tiny", 0, 1), f("h1", 1, 100), f("h2", 2, 100), f("h3", 3, 100)), m)
    mixed.map(_._1).toSet shouldBe Set("tiny", "h1", "h2", "h3")
    // ...but WITHOUT a cohort the outlier pair is all dead weight — park
    KvCompactor.selectTier(Seq(f("tiny", 0, 1), f("huge", 1, 100)), m) shouldBe Nil
    // most files wins over fewest bytes: 3 smalls beat 2 bigs
    val pref = KvCompactor.selectTier(
      Seq(f("s1", 0, 10), f("s2", 1, 10), f("s3", 2, 10),
        f("b1", 3, 1000), f("b2", 4, 1000)), KvCompactor.Minor(maxMerge = 3))
    pref.map(_._1).toSet shouldBe Set("s1", "s2", "s3")
  }

  test("a minor pass merges ONE tier and carries the rest: bounded write amplification, data unchanged") {
    val d = pileUp("kv_compact_minor", commits = 6, regions = 2) // 12 segments
    val fs = fsOf(d)
    val table = new Path(d)
    val before = spark.read.format("graft-kv").load(d)
      .select(count(lit(1)), sum(col("ts")), max(col("rowKey"))).collect()(0)
    val attributed = KvLog.live(fs, table).files.map(f => f.name -> f.seq).toMap
    // cap the tier at 4: the pass must touch 4 segments, not all 12
    val res = KvCompactor.compactTo(spark, d, targetRegionBytes = Long.MaxValue,
      KvCompactor.Minor(maxMerge = 4))
    val seq = res match {
      case KvCompactor.Compacted(s, merged, into, _) =>
        merged shouldBe 4; into shouldBe 1; s
      case p => fail(s"expected Compacted, got $p")
    }
    // the entry is still a full checkpoint (horizon moved), but the floor
    // is the TIGHT one: exactly one past the highest merged attribution —
    // positions above it kept every one of their segments
    KvLog.horizon(fs, table) shouldBe seq
    val mergedAway = KvLog.read(fs, table, seq).get.removes
    KvLog.floor(fs, table) shouldBe (mergedAway.map(attributed).max + 1)
    KvLog.liveFiles(fs, table) should have size 9 // 12 - 4 + 1
    val after = spark.read.format("graft-kv").load(d)
      .select(count(lit(1)), sum(col("ts")), max(col("rowKey"))).collect()(0)
    after shouldBe before
    // a second minor pass ladders up another tier without a full rewrite
    KvCompactor.compactTo(spark, d, targetRegionBytes = Long.MaxValue,
      KvCompactor.Minor(maxMerge = 4)) match {
      case KvCompactor.Compacted(_, merged, _, _) => merged shouldBe 4
      case p => fail(s"expected Compacted, got $p")
    }
    spark.read.format("graft-kv").load(d)
      .select(count(lit(1)), sum(col("ts")), max(col("rowKey")))
      .collect()(0) shouldBe before
  }

  test("a file the manifest does not reference is invisible to every scan") {
    val d = pileUp("kv_compact_stray", commits = 2)
    val n = spark.read.format("graft-kv").load(d).count()
    // an interrupted compaction's orphan: present in the directory, absent
    // from the log — scans plan from the manifest and never read it
    val fs = fsOf(d)
    val stray = new Path(d, "part-zzz-stray.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(d, KvLog.liveFiles(fs, new Path(d)).head), fs, stray,
      false, fs.getConf)
    spark.read.format("graft-kv").load(d).count() shouldBe n
  }

  test("a registered tail's mark is the compaction floor: park below it, merge up to it, replay across it") {
    val d = pileUp("kv_compact_gate") // entries 0,1,2 x 2 region files
    val fs = fsOf(d)
    val table = new Path(d)
    val latest = KvLog.latestSeq(fs, table)
    latest shouldBe 2L
    val total = spark.read.format("graft-kv").load(d).count()
    // a peer parked at the log start: nothing is mergeable below it
    KvLog.recordTail(fs, table, "peer-1", 0)
    KvCompactor.compact(spark, d, regions = 2) match {
      case KvCompactor.Parked(reason) => reason should include("peer-1@0")
      case r => fail(s"expected Parked, got $r")
    }
    // the peer advances mid-log: compaction merges BELOW its mark and
    // carries the newer segments forward unmerged (partial compaction)
    KvLog.recordTail(fs, table, "peer-1", 2)
    KvCompactor.compact(spark, d, regions = 2) shouldBe
      KvCompactor.Compacted(3, merged = 4, into = 2) // entries 0,1 merged
    KvLog.horizon(fs, table) shouldBe 3
    KvLog.floor(fs, table) shouldBe 2 // entry 2's files survive on disk
    // the gated peer's replay range still works: a batch over entry 2
    // plans and reads the ORIGINAL (carried) segments
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val stream = new KvTailStream(d, graft.kv.Cell.schema, Array.empty, None, sconf)
    val o = stream.latestOffset(stream.deserializeOffset("log:2:0"),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    val parts = stream.planInputPartitions(stream.deserializeOffset("log:2:0"), o)
    parts.length shouldBe 2 // entry 2's two region files, not the compact entry
    // and the table is still whole
    spark.read.format("graft-kv").load(d).count() shouldBe total
    // the peer passes the log end entirely: the carried files merge too
    KvLog.recordTail(fs, table, "peer-1", 4)
    KvCompactor.compact(spark, d, regions = 2) shouldBe
      KvCompactor.Compacted(4, merged = 4, into = 2)
    KvLog.floor(fs, table) shouldBe 4 // now a full checkpoint
    KvLog.recordTail(fs, table, "peer-1", 5)
    KvCompactor.compact(spark, d, regions = 2) shouldBe
      KvCompactor.Parked("already compacted at seq 4")
    spark.read.format("graft-kv").load(d).count() shouldBe total
  }

  test("a REGISTERED AvailableNow tail records its progress; compaction merges up to it end-to-end") {
    val d = pileUp("kv_compact_e2e")
    val cp = s"${d}_cp"
    graft.sinks.Sinks.deleteRecursive(spark, cp)
    val fs = fsOf(d)
    val table = new Path(d)
    // before any tail runs: no registrations
    KvLog.tailPositions(fs, table) shouldBe Map.empty
    def runTail(): Unit = {
      val q = spark.readStream.format("graft-kv")
        .option("maxFilesPerBatch", 2).option("tailId", "peer-e2e").load(d)
        .groupBy(col("qualifier")).count()
        .writeStream.format("memory").queryName("kv_gate_tail")
        .option("checkpointLocation", cp)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runTail()
    val latest = KvLog.latestSeq(fs, table)
    // Spark delivers the source-level commit of batch N while running batch
    // N+1, so a just-terminated tail's mark structurally lags ONE batch
    // behind its checkpoint — which is exactly why compaction is PARTIAL:
    // it merges below the mark and carries the final batch's segments
    // forward, instead of waiting for a mark that only advances with data.
    KvLog.tailPositions(fs, table) shouldBe Map("peer-e2e" -> latest)
    KvCompactor.compact(spark, d, regions = 2) shouldBe
      KvCompactor.Compacted(latest + 1, merged = 4, into = 2)
    // the tail restarts across the compaction without error (its replay
    // range was carried, not merged) and its checkpoint needs no reset
    runTail()
    // and a FRESH tail of the compacted table replays the merged live set
    val q2 = spark.readStream.format("graft-kv").load(d)
      .groupBy(col("qualifier")).count()
      .writeStream.format("memory").queryName("kv_gate_retail")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    spark.table("kv_gate_retail").collect().map(_.getLong(1)).sum shouldBe
      cells.count()
  }
}
