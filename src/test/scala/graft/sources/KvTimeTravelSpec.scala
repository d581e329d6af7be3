package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kv.KvGenerator

/** Time travel through the manifest log (`asOfSeq` reader option): every
  * commit entry is a durable table version ([[KvLog.live]]), read
  * back exactly; versions whose files compaction merged away fail loudly
  * (the Delta VACUUM-limits-time-travel trade); mode misuse (no manifest,
  * beyond the log end, on a stream) is rejected at plan time, not by a
  * wrong result.
  */
class KvTimeTravelSpec extends graft.SparkSpec {

  private lazy val cells: DataFrame = KvGenerator.cells(spark, 300, 4, "runT").cache()

  private def pileUp(name: String, commits: Int = 3): String = {
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

  private def asOf(d: String, seq: Long): DataFrame =
    spark.read.format("graft-kv").option("asOfSeq", seq).load(d)

  test("each commit is a readable version; the latest version equals the plain scan") {
    val d = pileUp("kv_tt_versions")
    val expect = (0 until 3).map(k =>
      cells.filter(pmod(col("ts"), lit(3)) <= k).count())
    (0 until 3).foreach { k =>
      asOf(d, k).count() shouldBe expect(k)
    }
    asOf(d, 2).count() shouldBe spark.read.format("graft-kv").load(d).count()
    // version scans prune like any other scan: rowKey bounds still cut files
    val scoped = asOf(d, 1).filter(col("rowKey") < "00000")
    scoped.count() shouldBe
      cells.filter(pmod(col("ts"), lit(3)) <= 1).filter(col("rowKey") < "00000").count()
  }

  test("a version beyond the log end, or on a table without a manifest, is rejected") {
    val d = pileUp("kv_tt_bounds")
    (the[Exception] thrownBy asOf(d, 99).count()).getMessage should
      include("outside")
    // externally-staged directory: versions were never recorded
    val legacy = s"${sys.props("java.io.tmpdir")}/graft_test/kv_tt_legacy"
    graft.sinks.Sinks.deleteRecursive(spark, legacy)
    cells.limit(10).write.mode("overwrite").parquet(legacy)
    (the[Exception] thrownBy asOf(legacy, 0).count()).getMessage should
      include("manifest log")
  }

  test("asOfTime resolves the last version published at or before the instant (timestampAsOf)") {
    val d = pileUp("kv_tt_bytime")
    val fs = fsOf(d)
    val table = new Path(d)
    // pin distinct publish instants per entry
    KvLog.backdateEntry(fs, table, 0, 1000L)
    KvLog.backdateEntry(fs, table, 1, 2000L)
    KvLog.backdateEntry(fs, table, 2, 3000L)
    def atTime(t: Long): DataFrame =
      spark.read.format("graft-kv").option("asOfTime", t).load(d)
    // between commits: the older one wins; exactly at: that one
    atTime(2500L).count() shouldBe asOf(d, 1).count()
    atTime(2000L).count() shouldBe asOf(d, 1).count()
    atTime(999999999L).count() shouldBe
      spark.read.format("graft-kv").load(d).count()
    // before the first commit: loud failure, not an empty table
    intercept[IllegalArgumentException] { atTime(500L).count() }
      .getMessage should include("no version")
    // naming the version both ways at once is rejected
    intercept[IllegalArgumentException] {
      spark.read.format("graft-kv").option("asOfTime", 2500L)
        .option("asOfSeq", 1).load(d).count()
    }.getMessage should include("mutually exclusive")
  }

  test("vacuum bounds time travel, compaction alone does not: pre-checkpoint versions read until reclamation") {
    val d = pileUp("kv_tt_compacted")
    val fs = fsOf(d)
    val table = new Path(d)
    val v1 = asOf(d, 1).count()
    v1 should be > 0L
    // partial compaction gated at seq 2: entries 0,1 merged, entry 2 carried
    KvLog.recordTail(fs, table, "peer-tt", 2)
    val seq = KvCompactor.compact(spark, d, regions = 2) match {
      case KvCompactor.Compacted(s, _, _, _) => s
      case p => fail(s"expected Compacted, got $p")
    }
    KvLog.floor(fs, table) shouldBe 2
    asOf(d, seq).count() shouldBe spark.read.format("graft-kv").load(d).count()
    // compaction's deletes are deferred: the merged-away originals are
    // still on disk, so the pre-checkpoint version STILL reads (Delta's
    // contract — OPTIMIZE never limits time travel, VACUUM does)
    asOf(d, 1).count() shouldBe v1
    // vacuum reclaims after the removal grace: now the version is gone
    KvLog.backdateEntry(fs, table, seq, 1000L)
    KvVacuum.vacuum(spark, d, graceMs = 3600 * 1000) match {
      case v: KvVacuum.Vacuumed => v.deletedFiles shouldBe 4
      case r => fail(s"expected Vacuumed, got $r")
    }
    val err = the[Exception] thrownBy asOf(d, 1).count()
    err.getMessage should include("no longer reconstructible")
    err.getMessage should include("reclaimed by vacuum")
  }

  test("retention lifecycle end-to-end: commits, partial compact, vacuum — every read shape at every stage") {
    val d = pileUp("kv_tt_lifecycle", commits = 4)
    val fs = fsOf(d)
    val table = new Path(d)
    val versions = (0 until 4).map(k => asOf(d, k).count())
    val full = spark.read.format("graft-kv").load(d).count()
    versions(3) shouldBe full
    // partial compaction gated at seq 2: entries 0,1 merge; 2,3 carry
    KvLog.recordTail(fs, table, "peer-lc", 2)
    val seq = KvCompactor.compact(spark, d, regions = 2) match {
      case KvCompactor.Compacted(s, merged, _, _) => merged shouldBe 4; s
      case p => fail(s"expected Compacted, got $p")
    }
    KvLog.floor(fs, table) shouldBe 2
    KvLog.horizon(fs, table) shouldBe seq
    // stage 1 (compacted, not vacuumed): EVERY version still reads
    (0 until 4).foreach(k => asOf(d, k).count() shouldBe versions(k))
    asOf(d, seq).count() shouldBe full
    // incremental (CDC) reads honor the floor: from it they work...
    KvLog.changes(fs, table, since = 1, upTo = 3).files should have size 4
    // ...below it they fail loudly (those increments were merged away)
    (the[Exception] thrownBy KvLog.changes(fs, table, 0, 3))
      .getMessage should include("compaction floor")
    // stage 2 (vacuumed past grace): exactly the merged-away originals go
    KvLog.backdateEntry(fs, table, seq, 1000L)
    KvVacuum.vacuum(spark, d, graceMs = 3600 * 1000) match {
      case v: KvVacuum.Vacuumed => v.deletedFiles shouldBe 4
      case r => fail(s"expected Vacuumed, got $r")
    }
    // pre-checkpoint cumulative versions are gone, with the documented error
    (0 until 4).foreach { k =>
      (the[Exception] thrownBy asOf(d, k).count()).getMessage should
        include("no longer reconstructible")
    }
    // the checkpoint version and the live scan are untouched, and the
    // floor-bounded incremental read still replays the carried segments
    asOf(d, seq).count() shouldBe full
    spark.read.format("graft-kv").load(d).count() shouldBe full
    KvLog.changes(fs, table, since = 1, upTo = 3).files should have size 4
  }

  test("asOfSeq on a stream is rejected: an offset already names its version") {
    val d = pileUp("kv_tt_stream")
    val ex = the[Exception] thrownBy {
      spark.readStream.format("graft-kv").option("asOfSeq", 1).load(d)
        .writeStream.format("memory").queryName("kv_tt_stream_q")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    ex.getMessage should include("batch-read option")
  }
}
