package graft.sources

import java.util.concurrent.{Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.kv.KvGenerator

/** Concurrent batch committers on one table: writer-unique sealed names +
  * the optimistic append loop mean interleaved `mode("append")` writes
  * compose like Delta's commit protocol — every commit lands, no entry or
  * data file is ever overwritten, and the manifest replays to the union.
  * (In-process threads additionally serialize on [[KvLog]]'s per-table
  * append lock, so this spec's races are deterministic-safe by
  * construction; the retry loop is the cross-process story.)
  */
class KvConcurrencySpec extends graft.SparkSpec {

  test("N concurrent batch appends: all land, all distinct, the table is the union") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_concurrent"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val writers = 4
    val commitsEach = 3
    val cells = KvGenerator.cells(spark, 480, 4, "runCC").cache()
    val total = cells.count()
    val slices = writers * commitsEach
    val pool = Executors.newFixedThreadPool(writers)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            (0 until commitsEach).foreach { c =>
              val i = w * commitsEach + c
              cells.filter(pmod(col("ts"), lit(slices)) === i)
                .write.format("graft-kv").option("regions", 2)
                .mode("append").save(d)
            }
          } catch { case t: Throwable => failures.add(t) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "writers timed out")
    failures.forEach(t => fail(s"concurrent writer failed: $t", t))
    val fs = new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
    val table = new Path(d)
    // every commit produced exactly one entry; adds are globally distinct
    val latest = KvLog.latestSeq(fs, table)
    latest shouldBe (slices - 1).toLong
    val allAdds = (0L to latest).flatMap(s => KvLog.read(fs, table, s).get.adds)
    allAdds.distinct.size shouldBe allAdds.size
    // the live set replays to the full union, cell for cell
    val back = spark.read.format("graft-kv").load(d)
    back.count() shouldBe total
    back.agg(bit_xor(xxhash64(col("rowKey"), col("qualifier"), col("ts"))))
      .collect()(0).getLong(0) shouldBe
      cells.agg(bit_xor(xxhash64(col("rowKey"), col("qualifier"), col("ts"))))
        .collect()(0).getLong(0)
    // every sink-written entry still carries its stats (the retry re-sends them)
    KvLog.liveFileStats(fs, table).keySet shouldBe
      KvLog.liveFiles(fs, table).toSet
  }

  test("compaction rebases over an interleaved pure append instead of aborting") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_rebase"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val cells = KvGenerator.cells(spark, 400, 4, "runRB").cache()
    (0 until 4).foreach { i =>
      cells.filter(pmod(col("ts"), lit(5)) === i)
        .write.format("graft-kv").option("regions", 1).mode("append").save(d)
    }
    val tail = cells.filter(pmod(col("ts"), lit(5)) === 4)
    val tailCount = tail.count()
    // Interleave a real sink append between compaction's staging and its
    // first publish attempt — the epoch-seals-during-a-long-merge shape.
    KvCompactor.prePublishHook = () => {
      KvCompactor.prePublishHook = () => ()
      tail.write.format("graft-kv").option("regions", 1).mode("append").save(d)
    }
    val res =
      try KvCompactor.compact(spark, d, regions = 2)
      finally KvCompactor.prePublishHook = () => ()
    val fs = new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
    val table = new Path(d)
    // seqs 0..3 = appends, 4 = the interleaved append, 5 = the rebased pass
    res shouldBe KvCompactor.Compacted(5L, merged = 4, into = 2)
    val entry = KvLog.read(fs, table, 5L).get
    entry.compact shouldBe true
    // the checkpoint is the COMPLETE live set: rebased merge outputs keyed
    // by the PUBLISHED seq plus the interleaved commit's file
    val interleavedAdds = KvLog.read(fs, table, 4L).get.adds
    entry.adds.filter(_.startsWith("part-c"))
      .foreach(f => assert(f.startsWith("part-c0000000005-")))
    interleavedAdds.foreach(f => assert(entry.adds.contains(f)))
    // no orphaned pre-rebase staging names remain
    assert(!KvLog.live(fs, table).names.exists(_.startsWith("part-c0000000004")))
    // the table replays to the full union and keeps every file's stats
    spark.read.format("graft-kv").load(d).count() shouldBe cells.count()
    KvLog.liveFileStats(fs, table).keySet shouldBe
      KvLog.liveFiles(fs, table).toSet
    // a rebased checkpoint still anchors replay (horizon moved with it)
    KvLog.horizon(fs, table) shouldBe 5L
    spark.catalog.clearCache()
  }

  test("compaction aborts and discards its outputs when an interleaved commit removed files") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_abort"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val cells = KvGenerator.cells(spark, 200, 4, "runAB").cache()
    (0 until 3).foreach { i =>
      cells.filter(pmod(col("ts"), lit(3)) === i)
        .write.format("graft-kv").option("regions", 1).mode("append").save(d)
    }
    val fs = new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
    val table = new Path(d)
    val before = spark.read.format("graft-kv").load(d).count()
    // Interleave a commit that REMOVES a live segment (another process's
    // compaction winning the race): the staged merge may reference a
    // merged-away input, so the pass must not publish.
    KvCompactor.prePublishHook = () => {
      KvCompactor.prePublishHook = () => ()
      val live = KvLog.liveFiles(fs, table)
      KvLog.append(fs, table, adds = Nil, removes = Seq(live.head))
    }
    val res =
      try KvCompactor.compact(spark, d, regions = 2)
      finally KvCompactor.prePublishHook = () => ()
    assert(res.isInstanceOf[KvCompactor.Aborted], s"expected Aborted, got $res")
    // the staged outputs were discarded — no part-c file is on disk or in
    // the manifest, and the table reads exactly per the winner's log
    assert(!KvLog.live(fs, table).names.exists(_.startsWith("part-c")))
    KvLog.liveFiles(fs, table).foreach(f => assert(!f.startsWith("part-c")))
    val after = spark.read.format("graft-kv").load(d).count()
    assert(after < before, "the interleaved remove should have shrunk the table")
    spark.catalog.clearCache()
  }

  test("a SQL UPDATE racing a compaction publish: the rewrite aborts stale, the table stays consistent") {
    val wh = s"${sys.props("java.io.tmpdir")}/graft_test/kv_rlo_race_wh"
    graft.sinks.Sinks.deleteRecursive(spark, wh)
    val cat = "rlorace"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftKvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    val cells = KvGenerator.cells(spark, 200, 4, "runRL")
    cells.createOrReplaceTempView("rlo_race_src")
    spark.sql(s"CREATE TABLE $cat.ns.t USING `graft-kv` " +
      "TBLPROPERTIES('regions'='2') AS SELECT * FROM rlo_race_src")
    // second commit so a compaction has something to merge
    spark.sql(s"INSERT INTO $cat.ns.t SELECT * FROM rlo_race_src WHERE ts % 10 = 0")
    val d = s"$wh/ns/t"
    val before = spark.sql(s"SELECT count(*) FROM $cat.ns.t").head().getLong(0)
    // a compaction lands BETWEEN the rewrite's read and its publish: the
    // scanned groups are merged away, so the replacement is stale and
    // must abort — publishing it would duplicate the merged rows.
    KvRowLevelOps.preCommitHook = () => {
      KvRowLevelOps.preCommitHook = () => ()
      KvCompactor.compact(spark, d, regions = 2) match {
        case _: KvCompactor.Compacted => ()
        case other => fail(s"interleaved compaction did not publish: $other")
      }
    }
    val e =
      try intercept[Exception] {
        spark.sql(s"UPDATE $cat.ns.t SET value = CAST('x' AS BINARY) " +
          "WHERE qualifier = 'C0'")
      } finally KvRowLevelOps.preCommitHook = () => ()
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    msgs should include("concurrent commit removed")
    // nothing was published by the loser: same rows, no stray files, and
    // the UPDATE retried after the dust settles succeeds
    spark.sql(s"SELECT count(*) FROM $cat.ns.t").head().getLong(0) shouldBe before
    assert(KvFsck.check(spark, d).healthy)
    spark.sql(s"UPDATE $cat.ns.t SET value = CAST('x' AS BINARY) " +
      "WHERE qualifier = 'C0'")
    val patched = spark.sql(s"SELECT count(*) FROM $cat.ns.t " +
      "WHERE CAST(value AS STRING) = 'x'").head().getLong(0)
    assert(patched > 0)
    spark.sql(s"SELECT count(*) FROM $cat.ns.t").head().getLong(0) shouldBe before
  }

  test("RestoreSnapshot racing a compaction publish: the restore wins, the compaction aborts clean") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_restore_race"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val cells = KvGenerator.cells(spark, 300, 4, "runRR").cache()
    cells.filter(pmod(col("ts"), lit(3)) === 0)
      .write.format("graft-kv").option("regions", 2).mode("append").save(d)
    KvSnapshot.create(spark, d, "golden")
    def readable(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("rowKey"), col("qualifier"),
          decode(col("value"), "UTF-8"), col("ts"))
        .collect().map(_.mkString("|")).toSet
    val goldenRows = readable(spark.read.format("graft-kv")
      .option("snapshot", "golden").load(d))
    (1 until 3).foreach { i =>
      cells.filter(pmod(col("ts"), lit(3)) === i)
        .write.format("graft-kv").option("regions", 2).mode("append").save(d)
    }
    val fs = new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
    val table = new Path(d)
    // The restore lands BETWEEN the compaction's staging and its publish
    // attempt — a restore is a compact entry with removes, the exact
    // conflict class the publish loop must refuse to rebase over (its
    // staged merge references pre-restore segments the restore just
    // removed from the live set).
    var restoredSeq = -1L
    KvCompactor.prePublishHook = () => {
      KvCompactor.prePublishHook = () => ()
      restoredSeq = KvSnapshot.restore(spark, d, "golden")
    }
    val res =
      try KvCompactor.compact(spark, d, regions = 2)
      finally KvCompactor.prePublishHook = () => ()
    assert(res.isInstanceOf[KvCompactor.Aborted], s"expected Aborted, got $res")
    assert(restoredSeq > 0, "the interleaved restore must have published")
    // The table IS the snapshot state: the losing compaction left no
    // trace — no staged output on disk or in the manifest, and the live
    // set is exactly the snapshot's pins.
    assert(!KvLog.live(fs, table).names.exists(_.startsWith("part-c")))
    readable(spark.read.format("graft-kv").load(d)) shouldBe goldenRows
    val fsck = KvFsck.check(spark, d)
    assert(fsck.healthy,
      s"restore-race left an unhealthy table: ${fsck.rows}")
    // And the restored table remains fully operational: a fresh major
    // compaction over the snapshot state publishes normally.
    KvCompactor.compact(spark, d, regions = 2) match {
      case _: KvCompactor.Compacted => ()
      case p: KvCompactor.Parked => () // single-segment snapshot: nothing to merge
      case other => fail(s"post-race compaction broken: $other")
    }
    readable(spark.read.format("graft-kv").load(d)) shouldBe goldenRows
    spark.catalog.clearCache()
  }
}
