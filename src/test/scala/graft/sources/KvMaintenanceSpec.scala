package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kv.KvGenerator

/** [[KvMaintenance]]: the policy pass — parks under the segment threshold,
  * compacts past it with byte-sized output regions, vacuums expired
  * garbage in the same sweep, and is idempotent (a healthy table's
  * maintenance is a no-op, so scheduling it aggressively is safe).
  */
class KvMaintenanceSpec extends graft.SparkSpec {

  private lazy val cells: DataFrame = KvGenerator.cells(spark, 400, 4, "runM").cache()

  private def pileUp(name: String, commits: Int, regions: Int = 2): String = {
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

  test("a typo'd explicit maintenance option fails the statement loudly, not silently") {
    // the LENIENT degrade is reserved for out-of-band-corrupted RECORDED
    // properties (sanitized at catalog injection) — an option the caller
    // typed on this very statement must not be shrugged off, or the
    // operator believes self-maintenance is on while segments pile up
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_maint_typo"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val e1 = intercept[Exception] {
      cells.write.format("graft-kv").option("regions", 1)
        .option("maintain", "ture").mode("append").save(d)
    }
    messages(e1) should include("maintain must be true|false")
    val e2 = intercept[Exception] {
      cells.write.format("graft-kv").option("regions", 1)
        .option("maintain", "true").option("maintainMaxSegments", "8x")
        .mode("append").save(d)
    }
    messages(e2) should include("maintainMaxSegments must be an integer")
    // neither statement landed anything
    assert(!fsOf(d).exists(new Path(d)) ||
      KvLog.liveFiles(fsOf(d), new Path(d)).isEmpty)
  }

  test("a malformed maintenance knob fails the write even with maintenance off") {
    // every maintain* option the statement carries is parsed, on or off:
    // a typo in a knob is refused before it can take effect silently the
    // day `maintain` is switched on
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_maint_typo_off"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val e = intercept[Exception] {
      cells.write.format("graft-kv").option("regions", 1)
        .option("maintain", "false").option("maintainMaxSegments", "8x")
        .mode("append").save(d)
    }
    Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ") should
      include("maintainMaxSegments must be an integer")
    assert(!fsOf(d).exists(new Path(d)) ||
      KvLog.liveFiles(fsOf(d), new Path(d)).isEmpty)
  }

  test("a healthy table parks: under the threshold nothing compacts, nothing is deleted") {
    val d = pileUp("kv_maint_healthy", commits = 3) // 6 segments
    val before = KvLog.liveFiles(fsOf(d), new Path(d))
    val r = KvMaintenance.maintain(spark, d, KvMaintenance.Policy(maxSegments = 8))
    r.compaction match {
      case KvCompactor.Parked(reason) => reason should include("under threshold: 6")
      case c => fail(s"expected Parked, got $c")
    }
    r.vacuum shouldBe KvVacuum.Vacuumed(0, 0, 0)
    KvLog.liveFiles(fsOf(d), new Path(d)) shouldBe before
  }

  test("past the threshold the pile-up compacts, output regions sized by bytes; the pass is idempotent") {
    val d = pileUp("kv_maint_compact", commits = 5) // 10 segments
    val fs = fsOf(d)
    val table = new Path(d)
    val n = spark.read.format("graft-kv").load(d).count()
    val liveBytes = KvLog.liveFiles(fs, table)
      .map(f => fs.getFileStatus(new Path(d, f)).getLen).sum
    // target sized so ceil(bytes/target) lands on 3 output regions — the
    // ConstantSizeRegionSplitPolicy shape, not a fixed count
    val target = liveBytes / 3 + 1
    val policy = KvMaintenance.Policy(
      maxSegments = 8, targetRegionBytes = target, vacuumGraceMs = 3600 * 1000)
    val r = KvMaintenance.maintain(spark, d, policy)
    val seq = r.compaction match {
      case KvCompactor.Compacted(s, merged, into, _) =>
        merged shouldBe 10; into shouldBe 3; s
      case c => fail(s"expected Compacted, got $c")
    }
    // merged-away originals are inside their grace window: kept this pass
    r.vacuum shouldBe KvVacuum.Vacuumed(0, 0, 0)
    spark.read.format("graft-kv").load(d).count() shouldBe n
    // second pass: 3 live segments, under threshold; nothing to reclaim yet
    val r2 = KvMaintenance.maintain(spark, d, policy)
    r2.compaction shouldBe KvCompactor.Parked("under threshold: 3 live segments <= 8")
    r2.vacuum shouldBe KvVacuum.Vacuumed(0, 0, 0)
    // third pass after the removal grace expires: the same scheduled call
    // now reclaims the 10 originals — steady state bounds disk at
    // live + one grace window of garbage
    KvLog.backdateEntry(fs, table, seq, 1000L)
    val r3 = KvMaintenance.maintain(spark, d, policy)
    r3.vacuum match {
      case v: KvVacuum.Vacuumed =>
        v.deletedFiles shouldBe 10; v.deletedBytes should be > 0L
      case v => fail(s"expected Vacuumed, got $v")
    }
    spark.read.format("graft-kv").load(d).count() shouldBe n
  }

  test("an oversized region splits into target-sized pieces; small siblings are carried, data unchanged") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_maint_split"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    // one monolith segment (regions=1) plus two small sibling commits
    val big = KvGenerator.cells(spark, 20000, 4, "runS").cache()
    big.write.format("graft-kv").option("regions", 1).mode("append").save(d)
    val small = cells.limit(50)
    small.write.format("graft-kv").option("regions", 1).mode("append").save(d)
    small.write.format("graft-kv").option("regions", 1).mode("append").save(d)
    val fs = fsOf(d)
    val table = new Path(d)
    val n = spark.read.format("graft-kv").load(d).count()
    val bigBytes = KvLog.liveFiles(fs, table)
      .map(f => fs.getFileStatus(new Path(d, f)).getLen).max
    // target sized so the monolith is past the 2× split trigger and
    // divides into 3 pieces; the small siblings stay far under it
    val target = bigBytes / 3 + 1
    val policy = KvMaintenance.Policy(
      maxSegments = 8, targetRegionBytes = target, vacuumGraceMs = 3600 * 1000)
    val r = KvMaintenance.maintain(spark, d, policy)
    r.compaction shouldBe KvCompactor.Parked("under threshold: 3 live segments <= 8")
    r.split match {
      case KvCompactor.Compacted(_, merged, into, _) =>
        merged shouldBe 1; into shouldBe 3
      case other => fail(s"expected a split, got $other")
    }
    // live set: 3 pieces + the 2 carried siblings; cells unchanged
    KvLog.liveFiles(fs, table).size shouldBe 5
    spark.read.format("graft-kv").load(d).count() shouldBe n
    // pieces are range-disjoint and target-sized (none re-triggers)
    val pieces = KvLog.liveFiles(fs, table).filter(_.startsWith("part-c"))
    pieces.size shouldBe 3
    pieces.map(f => fs.getFileStatus(new Path(d, f)).getLen)
      .foreach(b => assert(b < 2 * target, s"piece still oversized: $b"))
    // a second pass parks both halves: layout is normalized
    val r2 = KvMaintenance.maintain(spark, d, policy)
    r2.split match {
      case KvCompactor.Parked(reason) => reason should include("no oversized region")
      case other => fail(s"expected the split to park, got $other")
    }
  }

  test("a previous compaction's oversized single output still splits (idempotence park exemption)") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_maint_split_c"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val big = KvGenerator.cells(spark, 20000, 4, "runS2").cache()
    big.write.format("graft-kv").option("regions", 2).mode("append").save(d)
    big.filter(pmod(col("ts"), lit(2)) === 0)
      .write.format("graft-kv").option("regions", 2).mode("append").save(d)
    // an admin major-compacts everything into ONE region — a monolith
    KvCompactor.compact(spark, d, regions = 1) shouldBe a[KvCompactor.Compacted]
    val fs = fsOf(d)
    val table = new Path(d)
    val n = spark.read.format("graft-kv").load(d).count()
    val bytes = KvLog.liveFiles(fs, table)
      .map(f => fs.getFileStatus(new Path(d, f)).getLen).sum
    val policy = KvMaintenance.Policy(
      maxSegments = 8, targetRegionBytes = bytes / 3 + 1,
      vacuumGraceMs = 3600 * 1000)
    val r = KvMaintenance.maintain(spark, d, policy)
    r.split match {
      case KvCompactor.Compacted(_, merged, into, _) =>
        merged shouldBe 1; into should be >= 2
      case other => fail(s"expected the monolith to split, got $other")
    }
    spark.read.format("graft-kv").load(d).count() shouldBe n
  }

  test("sink-hook maintenance bounds a streaming pipe's segment count across epochs") {
    import org.apache.spark.sql.streaming.Trigger
    // source: an 8-commit WAL pile; maxFilesPerBatch=1 forces one epoch
    // per source segment, so the UNMAINTAINED sink would accumulate one
    // sealed segment set per epoch — 16 files by the end
    val src = pileUp("kv_maint_hook_src", commits = 8, regions = 2)
    val dst = s"${sys.props("java.io.tmpdir")}/graft_test/kv_maint_hook_dst"
    val cp = s"${dst}_cp"
    Seq(dst, cp).foreach(graft.sinks.Sinks.deleteRecursive(spark, _))
    val q = spark.readStream.format("graft-kv")
      .option("maxFilesPerBatch", 1).load(src)
      .writeStream.format("graft-kv").option("regions", 2)
      .option("maintain", "true")
      .option("maintainMaxSegments", 3)
      .option("maintainGraceMs", 0)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start(dst)
    q.awaitTermination()
    val fs = fsOf(dst)
    val live = KvLog.liveFiles(fs, new Path(dst))
    // the policy compacted as epochs piled up: far fewer live segments
    // than the 16 an unmaintained pipe would hold (minor tiers may leave
    // a small ladder above the threshold between passes)
    assert(live.size <= 6, s"expected a bounded segment count, got ${live.size}")
    // the landed data equals the source, cell for cell
    def digest(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(bit_xor(xxhash64(col("rowKey"), col("qualifier"), col("ts"))))
        .collect()(0).getLong(0)
    val landed = spark.read.format("graft-kv").load(dst)
    landed.count() shouldBe cells.count()
    digest(landed) shouldBe digest(spark.read.format("graft-kv").load(src))
  }

  test("cell policy GC in the rewrite: expired cells and excess versions are PHYSICALLY gone") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_maint_cellgc"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    // 40k records over the 32768-key space → colliding version stacks
    val cells = KvGenerator.cells(spark, 40000, 4, "runGC").cache()
    cells.write.format("graft-kv").option("regions", 2).mode("append").save(d)
    val cutoff = 40000L * 10 / 2
    KvCompactor.compact(spark, d, regions = 2,
      selection = KvCompactor.Major,
      cellPolicy = KvCompactor.CellPolicy(
        dropBelowTs = Some(cutoff), maxVersions = Some(1))) shouldBe
      a[KvCompactor.Compacted]
    val fs = fsOf(d)
    val table = new Path(d)
    // read the compacted region files DIRECTLY (no manifest, no operator):
    // the dead cells must not exist on disk, not merely be masked
    val files = KvLog.liveFiles(fs, table)
    files.foreach(f => assert(f.startsWith("part-c"), s"uncompacted $f"))
    val raw = spark.read.parquet(files.map(f => s"$d/$f"): _*)
    raw.filter(col("ts") < cutoff).count() shouldBe 0
    raw.groupBy("rowKey", "qualifier").count()
      .filter(col("count") > 1).count() shouldBe 0
    // and what survives is exactly the declarative expire+retain result
    import org.apache.spark.sql.expressions.Window
    val expect = cells.filter(col("ts") >= cutoff)
      .withColumn("_v", row_number().over(Window
        .partitionBy("rowKey", "qualifier")
        .orderBy(col("ts").desc, col("value").asc)))
      .filter(col("_v") === 1).drop("_v")
    raw.count() shouldBe expect.count()
    raw.agg(bit_xor(xxhash64(col("rowKey"), col("qualifier"), col("ts"))))
      .collect()(0).getLong(0) shouldBe
      expect.agg(bit_xor(xxhash64(col("rowKey"), col("qualifier"), col("ts"))))
        .collect()(0).getLong(0)
  }

  test("tail gating carries into maintenance: a parked compaction never blocks the vacuum half") {
    val d = pileUp("kv_maint_gated", commits = 5)
    val fs = fsOf(d)
    val table = new Path(d)
    KvLog.recordTail(fs, table, "peer-m", 0) // parks all merging
    val r = KvMaintenance.maintain(spark, d,
      KvMaintenance.Policy(maxSegments = 4, vacuumGraceMs = 0))
    r.compaction match {
      case KvCompactor.Parked(reason) => reason should include("peer-m@0")
      case c => fail(s"expected Parked, got $c")
    }
    r.vacuum shouldBe a[KvVacuum.Vacuumed] // ran despite the park
  }
}
