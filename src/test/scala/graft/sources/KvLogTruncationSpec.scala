package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kv.KvGenerator

/** Checkpoint-anchored log replay + retention-bounded truncation: compact
  * entries carry their pending-removal set, so removal attribution and
  * live-set replay never need the pre-checkpoint prefix, and [[KvLog
  * .truncate]] may drop expired pre-floor entries without vacuum losing its
  * grace-from-removal clocks. The unbounded-log-replay cost class was the
  * round-10 ADVICE's standing item: a long-lived table replayed its whole
  * history on every GC pass.
  */
class KvLogTruncationSpec extends graft.SparkSpec {

  private lazy val cells: DataFrame =
    KvGenerator.cells(spark, 400, 4, "runL").cache()

  private def pileUp(name: String, commits: Int): String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/$name"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    (0 until commits).foreach { i =>
      cells.filter(pmod(col("ts"), lit(commits)) === i)
        .write.format("graft-kv").option("regions", 2)
        .mode("append").save(d)
    }
    d
  }

  private def fsOf(d: String) =
    new Path(d).getFileSystem(spark.sessionState.newHadoopConf())

  test("compact entries carry the pending-removal set; removalTimes anchors at the checkpoint") {
    val d = pileUp("kv_trunc_anchor", commits = 3)
    val fs = fsOf(d)
    val table = new Path(d)
    KvCompactor.compact(spark, d, regions = 2) // removes the 6 originals
    val seq1 = KvLog.latestSeq(fs, table)
    val e1 = KvLog.read(fs, table, seq1).get
    e1.compact shouldBe true
    e1.carriedRemovals shouldBe Map.empty // nothing pending BEFORE this one
    val t1 = fs.getFileStatus(new Path(s"$d/_log", f"$seq1%020d")).getModificationTime
    // a second compaction (after two more commits) must CARRY the first
    // pass's six removals with their ORIGINAL clock
    (0 until 2).foreach { i =>
      cells.filter(pmod(col("ts"), lit(2)) === i)
        .write.format("graft-kv").option("regions", 2).mode("append").save(d)
    }
    KvCompactor.compact(spark, d, regions = 2)
    val seq2 = KvLog.latestSeq(fs, table)
    val e2 = KvLog.read(fs, table, seq2).get
    e2.compact shouldBe true
    e2.carriedRemovals.size shouldBe 6
    e2.carriedRemovals.values.foreach(_ shouldBe t1)
    // anchored attribution equals the carried + own removes
    val times = KvLog.removalTimes(fs, table)
    times.size shouldBe 6 + e2.removes.size
    e2.carriedRemovals.foreach { case (n, t) => times(n) shouldBe t }
  }

  test("vacuum honors carried clocks after truncation: grace from ORIGINAL removal, entries gone") {
    val d = pileUp("kv_trunc_vacuum", commits = 3)
    val fs = fsOf(d)
    val table = new Path(d)
    val n = spark.read.format("graft-kv").load(d).count()
    KvCompactor.compact(spark, d, regions = 2)
    val seq = KvLog.latestSeq(fs, table)
    // age everything below the floor far past retention, then truncate
    (0L until seq).foreach(KvLog.backdateEntry(fs, table, _, 1000L))
    KvLog.truncate(fs, table, retentionMs = 3600 * 1000) shouldBe seq.toInt
    KvLog.earliestSeq(fs, table) shouldBe seq
    // the removal clocks survived INSIDE the checkpoint: a fresh-grace
    // vacuum still refuses (the checkpoint entry itself is recent) …
    KvVacuum.vacuum(spark, d, graceMs = 3600 * 1000) shouldBe
      KvVacuum.Vacuumed(0, 0, 0)
    // … and expiring the checkpoint's clock reclaims exactly the 6
    // originals, like the untruncated log would have
    KvLog.backdateEntry(fs, table, seq, 1000L)
    KvVacuum.vacuum(spark, d, graceMs = 3600 * 1000) match {
      case v: KvVacuum.Vacuumed => v.deletedFiles shouldBe 6
      case r => fail(s"expected Vacuumed, got $r")
    }
    spark.read.format("graft-kv").load(d).count() shouldBe n
  }

  test("truncation respects retention and the floor, and is refused without an anchored checkpoint") {
    val d = pileUp("kv_trunc_bounds", commits = 3)
    val fs = fsOf(d)
    val table = new Path(d)
    // no compaction yet: no checkpoint → refused outright
    KvLog.truncate(fs, table, 0) shouldBe 0
    KvCompactor.compact(spark, d, regions = 2)
    val seq = KvLog.latestSeq(fs, table)
    // fresh entries inside retention: nothing drops
    KvLog.truncate(fs, table, retentionMs = 24L * 3600 * 1000) shouldBe 0
    // age only entries 0 and 1 — truncation stops at the first young entry
    KvLog.backdateEntry(fs, table, 0, 1000L)
    KvLog.backdateEntry(fs, table, 1, 1000L)
    KvLog.truncate(fs, table, retentionMs = 3600 * 1000) shouldBe 2
    KvLog.earliestSeq(fs, table) shouldBe 2
    // the floor bounds truncation even at zero retention: the checkpoint
    // entry itself (= floor = horizon here) always survives
    KvLog.backdateEntry(fs, table, 2, 1000L)
    KvLog.truncate(fs, table, retentionMs = 0) shouldBe 1
    KvLog.earliestSeq(fs, table) shouldBe seq
    KvLog.read(fs, table, seq).isDefined shouldBe true
  }

  test("after truncation: live reads, history, CDC and post-horizon time travel work; pre-floor versions fail loudly") {
    val d = pileUp("kv_trunc_reads", commits = 3)
    val fs = fsOf(d)
    val table = new Path(d)
    val n = spark.read.format("graft-kv").load(d).count()
    KvCompactor.compact(spark, d, regions = 2)
    val seq = KvLog.latestSeq(fs, table) // = 3
    (0L until seq).foreach(KvLog.backdateEntry(fs, table, _, 1000L))
    KvLog.truncate(fs, table, retentionMs = 0) shouldBe seq.toInt
    // live scan unaffected
    spark.read.format("graft-kv").load(d).count() shouldBe n
    // history starts at the first retained entry
    KvLog.history(fs, table).map(_._1) shouldBe Seq(seq)
    // time travel to the checkpoint (and later) replays from it
    spark.read.format("graft-kv").option("asOfSeq", seq)
      .load(d).count() shouldBe n
    // a pre-floor version's entries are gone: loud failure, not a partial set
    val ex = intercept[Exception] {
      spark.read.format("graft-kv").option("asOfSeq", 1).load(d).count()
    }
    ex.getMessage should include("truncated by log retention")
    // CDC across the truncated span is already floor-refused
    intercept[IllegalStateException] {
      KvLog.changes(fs, table, -1, seq)
    }.getMessage should include("compaction floor")
    // a new commit + maintenance keeps working end-to-end on the
    // truncated log (the policy pass runs truncate itself)
    cells.limit(50).write.format("graft-kv").option("regions", 2)
      .mode("append").save(d)
    val r = KvMaintenance.maintain(spark, d,
      KvMaintenance.Policy(maxSegments = 1, vacuumGraceMs = 0))
    r.compaction shouldBe a[KvCompactor.Compacted]
    spark.read.format("graft-kv").load(d).count() shouldBe n + 50
  }

  test("a version BETWEEN two checkpoints stays readable after the older prefix truncates") {
    // commits 0-2, checkpoint 3, commits 4-5, checkpoint 6; truncating the
    // pre-checkpoint prefix (0-2) must NOT take versions 3-5 with it —
    // entry 3 is a complete live set, so asOfSeq=4 anchors there
    val d = pileUp("kv_trunc_mid", commits = 3)
    val fs = fsOf(d)
    val table = new Path(d)
    KvCompactor.compact(spark, d, regions = 2) // seq 3, checkpoint
    val atV4 = cells.limit(40)
    atV4.write.format("graft-kv").option("regions", 2).mode("append").save(d) // 4
    val countAtV4 = spark.read.format("graft-kv")
      .option("asOfSeq", 4).load(d).count()
    cells.limit(10).write.format("graft-kv").option("regions", 2)
      .mode("append").save(d) // 5
    KvCompactor.compact(spark, d, regions = 2) // seq 6, new horizon
    (0L to 2L).foreach(KvLog.backdateEntry(fs, table, _, 1000L))
    // 60s retention: the backdated prefix (mtime 1000) expires, the
    // just-written mid-span entries 3-5 do not
    KvLog.truncate(fs, table, retentionMs = 60 * 1000) shouldBe 3
    KvLog.earliestSeq(fs, table) shouldBe 3
    // the mid-span version anchors at the RETAINED checkpoint 3
    spark.read.format("graft-kv").option("asOfSeq", 4)
      .load(d).count() shouldBe countAtV4
    // a version below every retained checkpoint still fails loudly
    intercept[Exception] {
      spark.read.format("graft-kv").option("asOfSeq", 1).load(d).count()
    }.getMessage should include("truncated by log retention")
  }
}
