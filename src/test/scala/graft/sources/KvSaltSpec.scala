package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kv.KvGenerator

/** [[KvSalt]]: the salted table layout. A salted write + salt-aware scan
  * must be INDISTINGUISHABLE from the unsalted table to every consumer —
  * same rows, same predicates, same residual semantics — while predicates
  * still push, prune, and bloom-probe in stored key space.
  */
class KvSaltSpec extends graft.SparkSpec {

  private val Buckets = 16

  private lazy val cells: DataFrame =
    KvGenerator.cells(spark, 3000, 4, "runSalt").cache()

  /** The same data as two tables: plain, and salted through the helper. */
  private lazy val (plainDir, saltDir): (String, String) = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_plain"
    val s = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_table"
    Seq(p, s).foreach(graft.sinks.Sinks.deleteRecursive(spark, _))
    cells.write.format("graft-kv").option("regions", 8).mode("overwrite").save(p)
    KvSalt.salted(cells, Buckets)
      .write.format("graft-kv").option("regions", 8).mode("overwrite").save(s)
    (p, s)
  }

  private def plain: DataFrame = spark.read.format("graft-kv").load(plainDir)
  private def saltedScan: DataFrame = spark.read.format("graft-kv")
    .option("saltBuckets", Buckets).load(saltDir)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => new String(b, "UTF-8")
      case x => String.valueOf(x)
    }.mkString("|")).sorted.toSeq

  test("write column and driver saltOf agree on every key") {
    import spark.implicits._
    val keys = cells.select("rowKey").distinct().limit(200)
      .collect().map(_.getString(0))
    val viaColumn = KvSalt.salted(
      keys.toSeq.toDF("rowKey"), Buckets).collect()
      .map(_.getString(0)).toSet
    keys.foreach { k =>
      assert(viaColumn.contains(KvSalt.stored(k, Buckets)),
        s"driver stored() disagrees with the write column for $k")
    }
  }

  test("salt-aware full scan equals the plain table, stored keys never leak") {
    rows(saltedScan) shouldBe rows(plain)
  }

  test("every predicate shape survives the stored-space rewrite") {
    val preds = Seq(
      col("rowKey") === "00123",
      col("rowKey").isin("00123", "00456", "02999"),
      col("rowKey") >= "00100" && col("rowKey") < "00300",
      col("rowKey") > "02800",
      col("rowKey") <= "00050",
      col("rowKey").startsWith("001"),
      col("rowKey") === "00123" && col("ts") >= 100L,
      col("family") === "c" && col("rowKey") < "00500")
    preds.foreach { p =>
      rows(saltedScan.filter(p)) shouldBe rows(plain.filter(p))
    }
  }

  test("a point Get on a salted table still bloom-prunes to ~1 file") {
    val get = saltedScan.filter(col("rowKey") === "00123")
    rows(get) shouldBe rows(plain.filter(col("rowKey") === "00123"))
    val total = KvLog.liveFiles(
      new Path(saltDir).getFileSystem(spark.sessionState.newHadoopConf()),
      new Path(saltDir)).size
    assert(get.rdd.getNumPartitions < total,
      s"expected pruning below $total files, got ${get.rdd.getNumPartitions}")
    val plan = get.queryExecution.executedPlan.toString
    plan should include("salted=16")
  }

  test("a logical range prunes per salt disjunct instead of keeping every file") {
    // a narrow logical range expands to 16 stored subranges; each region
    // file covers a contiguous STORED range, so files outside every
    // subrange drop at planning time
    val ranged = saltedScan
      .filter(col("rowKey") >= "00100" && col("rowKey") < "00140")
    rows(ranged) shouldBe rows(
      plain.filter(col("rowKey") >= "00100" && col("rowKey") < "00140"))
  }

  test("ORDER BY rowKey LIMIT is correct (top-n pushdown refused, plain sort serves it)") {
    val top = saltedScan.orderBy(col("rowKey")).limit(10)
    rows(top) shouldBe rows(plain.orderBy(col("rowKey")).limit(10))
    top.queryExecution.executedPlan.toString should not include "topN="
    val bottom = saltedScan.orderBy(col("rowKey").desc).limit(10)
    rows(bottom) shouldBe rows(plain.orderBy(col("rowKey").desc).limit(10))
  }

  test("min/max(rowKey) refuse the metadata rewrite and still answer correctly") {
    val r = saltedScan.agg(min("rowKey"), max("rowKey")).collect()(0)
    val e = plain.agg(min("rowKey"), max("rowKey")).collect()(0)
    r shouldBe e
    // count(*) keeps the metadata path — row counts are salt-agnostic
    saltedScan.count() shouldBe plain.count()
  }

  test("a runtime (DPP) key join maps probe keys to stored form") {
    import spark.implicits._
    val dim = Seq("00123", "00456").toDF("k")
    val s = saltedScan
    val p = plain
    val joined = s.join(dim.hint("broadcast"), s("rowKey") === dim("k"))
    val expect = p.join(dim.hint("broadcast"), p("rowKey") === dim("k"))
    rows(joined.drop("k")) shouldBe rows(expect.drop("k"))
  }

  test("a streaming tail of a salted table emits logical keys under scope options") {
    import org.apache.spark.sql.streaming.Trigger
    val out = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_tail_out"
    val cp = s"${out}_cp"
    Seq(out, cp).foreach(graft.sinks.Sinks.deleteRecursive(spark, _))
    val q = spark.readStream.format("graft-kv")
      .option("saltBuckets", Buckets)
      .option("minRowKey", "00100").option("maxRowKey", "00300")
      .load(saltDir)
      .writeStream.format("parquet")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start(out)
    q.awaitTermination()
    val landed = spark.read.parquet(out)
    rows(landed) shouldBe rows(
      plain.filter(col("rowKey") >= "00100" && col("rowKey") < "00300"))
  }

  test("saltedWrite records the bucket count: plain reads auto-detect, wrong options refuse") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_prop"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    KvSalt.saltedWrite(cells, d, Buckets, regions = 4, mode = "overwrite")
    // no option, still salt-aware: logical keys out, predicates rewritten
    val auto = spark.read.format("graft-kv").load(d)
    rows(auto.filter(col("rowKey") === "00123")) shouldBe
      rows(plain.filter(col("rowKey") === "00123"))
    rows(auto) shouldBe rows(plain)
    // the matching option is accepted; a contradicting one is refused
    spark.read.format("graft-kv").option("saltBuckets", Buckets).load(d)
      .count() shouldBe plain.count()
    an[Exception] should be thrownBy
      spark.read.format("graft-kv").option("saltBuckets", 8).load(d).count()
  }

  test("salt composes with intra-region splitting: stripped keys, exact rows, extra partitions") {
    val split = spark.read.format("graft-kv")
      .option("saltBuckets", Buckets)
      .option("splitRegionBytes", 8 * 1024).load(saltDir)
    rows(split) shouldBe rows(plain)
    assert(split.rdd.getNumPartitions >
      spark.read.format("graft-kv").option("saltBuckets", Buckets)
        .load(saltDir).rdd.getNumPartitions,
      "expected byte-range splitting to add partitions")
    rows(split.filter(col("rowKey") >= "00100" && col("rowKey") < "00300")) shouldBe
      rows(plain.filter(col("rowKey") >= "00100" && col("rowKey") < "00300"))
  }

  test("saltedWrite append RESERVES the bucket count before any row lands") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_reserve"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    KvSalt.saltedWrite(cells, d, Buckets, regions = 2, mode = "append")
    val n0 = spark.read.format("graft-kv").load(d).count()
    // A mismatching append is refused by the RESERVATION — before a write:
    // the table's row count and live file set must be untouched.
    val fs = new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
    val filesBefore = KvLog.liveFiles(fs, new Path(d))
    an[Exception] should be thrownBy
      KvSalt.saltedWrite(cells, d, Buckets / 2, regions = 2, mode = "append")
    KvLog.liveFiles(fs, new Path(d)) shouldBe filesBefore
    spark.read.format("graft-kv").load(d).count() shouldBe n0
    // A salted append must not FLIP a nonempty unsalted table: the old
    // rows' plain keys would be salt-stripped by every later read.
    val d3 = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_noflip"
    graft.sinks.Sinks.deleteRecursive(spark, d3)
    cells.write.format("graft-kv").option("regions", 2).mode("append").save(d3)
    val e3 = intercept[Exception] {
      KvSalt.saltedWrite(cells, d3, Buckets, regions = 2, mode = "append")
    }
    e3.getMessage should include("unsalted data")
    assert(KvSalt.bucketsOf(fs, new Path(d3)).isEmpty,
      "the refused flip must not leave a salt property behind")
    // A fresh-table append registers even before data exists: the reserve
    // makes a racing different-n writer fail before its rows land.
    val d2 = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_reserve2"
    graft.sinks.Sinks.deleteRecursive(spark, d2)
    KvSalt.register(fs, new Path(d2), 4) // the "other writer" reserved 4
    an[Exception] should be thrownBy
      KvSalt.saltedWrite(cells, d2, Buckets, regions = 2, mode = "append")
    assert(KvLog.liveFiles(fs, new Path(d2)).isEmpty,
      "the refused writer must not have committed any file")
  }

  test("a clone of a salted snapshot inherits the salt property: plain reads stay correct") {
    val src = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_clone_src"
    val dst = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_clone_dst"
    Seq(src, dst).foreach(graft.sinks.Sinks.deleteRecursive(spark, _))
    KvSalt.saltedWrite(cells, src, Buckets, regions = 4, mode = "overwrite")
    KvSnapshot.create(spark, src, "s1")
    KvSnapshot.cloneTo(spark, src, "s1", dst)
    val fs = new Path(dst).getFileSystem(spark.sessionState.newHadoopConf())
    KvSalt.bucketsOf(fs, new Path(dst)) shouldBe Some(Buckets)
    // A PLAIN read of the clone auto-detects: logical keys, predicates
    // expanded — byte-identical to the plain table.
    val clone = spark.read.format("graft-kv").load(dst)
    rows(clone.filter(col("rowKey") === "00123")) shouldBe
      rows(plain.filter(col("rowKey") === "00123"))
    rows(clone) shouldBe rows(plain)
  }

  test("a clone gets the SNAPSHOT-TIME salt, not the source's current one") {
    val src = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_snaptime_src"
    val dst = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_snaptime_dst"
    Seq(src, dst).foreach(graft.sinks.Sinks.deleteRecursive(spark, _))
    KvSalt.saltedWrite(cells, src, n = 8, regions = 2, mode = "overwrite")
    KvSnapshot.create(spark, src, "pre")
    val preRows = rows(spark.read.format("graft-kv")
      .option("snapshot", "pre").load(src))
    // convert the SOURCE to a different salt after the snapshot
    KvSalt.saltedWrite(cells, src, n = 16, regions = 2, mode = "overwrite")
    val fs = new Path(src).getFileSystem(spark.sessionState.newHadoopConf())
    KvSalt.bucketsOf(fs, new Path(src)) shouldBe Some(16)
    // the clone's pinned files are 8-salted: it must register 8, not 16
    KvSnapshot.cloneTo(spark, src, "pre", dst)
    KvSalt.bucketsOf(fs, new Path(dst)) shouldBe Some(8)
    rows(spark.read.format("graft-kv").load(dst)) shouldBe preRows
    rows(spark.read.format("graft-kv").load(dst)
      .filter(col("rowKey") === "00123")) shouldBe
      rows(plain.filter(col("rowKey") === "00123"))
  }

  test("lifecycle machinery is salt-agnostic: compaction preserves the salted table") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_compact"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val salted = KvSalt.salted(cells, Buckets)
    (0 until 3).foreach { i =>
      salted.filter(pmod(col("ts"), lit(3)) === i)
        .write.format("graft-kv").option("regions", 2).mode("append").save(d)
    }
    KvCompactor.compact(spark, d, regions = 4) shouldBe a[KvCompactor.Compacted]
    rows(spark.read.format("graft-kv").option("saltBuckets", Buckets).load(d)) shouldBe
      rows(plain)
  }

  test("a point Get on a salted COMPACTED table plans ONE region file (range-pruned, bloom-free)") {
    // Compacted regions exceed the per-segment bloom cap in production;
    // the layout shape is what matters: the salt expansion maps a logical
    // key to its ONE stored key, and compacted regions are stored-range
    // DISJOINT — so range pruning alone pins the Get to a single file,
    // bloom or not (the r13 task-8 question, answered mechanically;
    // Scratch `saltget` carries the 2M-key timing evidence).
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_get"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val cells = graft.kv.KvGenerator.cells(spark, 3000, 4, "runG")
    (0 until 2).foreach { i =>
      KvSalt.saltedWrite(cells.filter(pmod(col("ts"), lit(2)) === i),
        d, n = 16, regions = 4)
    }
    KvCompactor.compact(spark, d, regions = 4) shouldBe a[KvCompactor.Compacted]
    val fs = new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
    KvLog.liveFiles(fs, new Path(d)).size shouldBe 4
    val someKey = spark.read.format("graft-kv").load(d)
      .select("rowKey").head().getString(0)
    val get = spark.read.format("graft-kv").load(d)
      .filter(col("rowKey") === someKey)
    get.count() should be > 0L
    val planned = "regions=(\\d+)/(\\d+)".r
      .findFirstMatchIn(get.queryExecution.executedPlan.toString)
    planned.map(_.group(1)) shouldBe Some("1")
    planned.map(_.group(2)) shouldBe Some("4")
  }

  test("a user-passed saltWrite is refused unless it matches the table's declared salt") {
    import spark.implicits._
    val rows = Seq(("k1", "f", "a", "v".getBytes("UTF-8"), 1L))
      .toDF("rowKey", "family", "qualifier", "value", "ts")
    // unsalted table: saltWrite would demux salted stored keys with no
    // registration — every later read would see raw prefixed keys
    val d1 = s"${sys.props("java.io.tmpdir")}/graft_test/kv_saltwrite_guard1"
    graft.sinks.Sinks.deleteRecursive(spark, d1)
    rows.write.format("graft-kv").option("regions", 1).mode("append").save(d1)
    def allMessages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val e1 = intercept[Exception] {
      rows.write.format("graft-kv").option("regions", 1)
        .option("saltWrite", 8).mode("append").save(d1)
    }
    allMessages(e1) should include("not a salted table")
    // salted table, WRONG bucket count
    val d2 = s"${sys.props("java.io.tmpdir")}/graft_test/kv_saltwrite_guard2"
    graft.sinks.Sinks.deleteRecursive(spark, d2)
    KvSalt.saltedWrite(rows, d2, n = 8, regions = 1)
    val e2 = intercept[Exception] {
      rows.write.format("graft-kv").option("regions", 1)
        .option("saltWrite", 4).mode("append").save(d2)
    }
    allMessages(e2) should include("declares 8 salt buckets")
    // matching count is accepted: sink-salts exactly like the catalog path
    rows.write.format("graft-kv").option("regions", 1)
      .option("saltWrite", 8).mode("append").save(d2)
    val out = spark.read.format("graft-kv").load(d2)
      .select("rowKey").collect().map(_.getString(0))
    out.toSeq.sorted shouldBe Seq("k1", "k1")
  }

  test("rows that already carry stored salted keys are refused by the sink-salting path") {
    import spark.implicits._
    val logical = Seq("k1", "k2", "k3")
      .map(k => (k, "f", "a", "v".getBytes("UTF-8"), 1L))
      .toDF("rowKey", "family", "qualifier", "value", "ts")
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_doublesalt_guard"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    KvSalt.saltedWrite(logical, d, n = 8, regions = 1)
    // a pre-r14 pipeline habit: pre-salt AND route through the
    // sink-salting surface — double-salting would be silent corruption
    // (the re-salted key is self-consistent), so the demux refuses when
    // every key of a task already parses as stored
    val e = intercept[Exception] {
      KvSalt.salted(logical, 8).write.format("graft-kv")
        .option("regions", 1).option("saltWrite", 8)
        .mode("append").save(d)
    }
    Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ") should
      include("PRE-salted")
    // nothing sealed: the table still holds exactly the first write
    spark.read.format("graft-kv").load(d).count() shouldBe 3L
  }

  test("a marker-carrying append sink-salts when allowTombstones is declared") {
    import spark.implicits._
    val logical = Seq("k1", "k2", "k3")
      .map(k => (k, "f", "a", "v".getBytes("UTF-8"), 1L))
      .toDF("rowKey", "family", "qualifier", "value", "ts")
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_tomb_append"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    KvSalt.saltedWrite(logical, d, n = 8, regions = 1)
    // a replication pipe lands a row marker through the sink-salting
    // surface: the option must reach the demux's inner writers (it used
    // to be dropped — the error told the user to set the very option
    // they had set)
    val marker = Seq((
        "k1", KvDelete.AllFamilies, KvDelete.RowMarkerQualifier,
        Array.empty[Byte], Long.MaxValue))
      .toDF("rowKey", "family", "qualifier", "value", "ts")
    marker.write.format("graft-kv").option("regions", 1)
      .option("saltWrite", 8).option("allowTombstones", "true")
      .mode("append").save(d)
    // the salted marker masks the salted put: k1 gone from the plain read
    spark.read.format("graft-kv").load(d)
      .select("rowKey").collect().map(_.getString(0)).sorted.toSeq shouldBe
      Seq("k2", "k3")
  }

  test("salt declarations are immutable per-seq markers: declarers cannot drop each other, rollback spares published seqs") {
    import spark.implicits._
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_salt_declmark"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val rows = Seq(("k1", "f", "a", "v".getBytes("UTF-8"), 1L))
      .toDF("rowKey", "family", "qualifier", "value", "ts")
    rows.write.format("graft-kv").option("regions", 1).mode("overwrite").save(d)
    val fs = new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
    val t = new Path(d)

    // Two declaring operations at DIFFERENT seqs (a resalt + a restore,
    // say) each create their own marker file — neither read-modify-writes
    // a shared list, so neither can lose the other's declaration (the
    // failure mode of the old single mutable hint file).
    KvSalt.declare(fs, t, 5L)
    KvSalt.declare(fs, t, 7L)
    KvSalt.declSeqs(fs, t) shouldBe Seq(7L, 5L)
    // declare is idempotent (a re-run after a crash re-marks the seq).
    KvSalt.declare(fs, t, 5L)
    KvSalt.declSeqs(fs, t) shouldBe Seq(7L, 5L)

    // No entry was ever published at 5 or 7: the markers are pending
    // accelerator state, and resolution falls through to the table's
    // registration (here: unsalted).
    KvSalt.resolveAt(fs, t, None) shouldBe None

    // Rollback of an UNPUBLISHED seq deletes exactly its own marker.
    KvSalt.undeclare(fs, t, 5L)
    KvSalt.declSeqs(fs, t) shouldBe Seq(7L)

    // A PUBLISHED declaration's marker survives a (racing loser's)
    // rollback: run the real declare-then-publish flow at the next seq,
    // then try to undeclare it.
    val seq = KvLog.latestSeq(fs, t) + 1
    KvSalt.declare(fs, t, seq)
    KvLog.append(fs, t, adds = Nil, saltDecl = Some(0),
      expectSeq = Some(seq)) shouldBe seq
    KvSalt.undeclare(fs, t, seq)
    KvSalt.declSeqs(fs, t) should contain(seq)
    KvSalt.undeclare(fs, t, 7L) // unpublished leftover cleans up fine
    KvSalt.declSeqs(fs, t) shouldBe Seq(seq)
  }
}
