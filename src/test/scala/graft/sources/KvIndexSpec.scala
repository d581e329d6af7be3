package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[KvIndex]]: maintained global secondary indexes. The invariant under
  * test: a verified lookup equals the full-scan answer — the current
  * (LWW, delete-masked) rows whose value is in range — REGARDLESS of how
  * stale the index is, what DML ran since, or which candidate-verification
  * path (In pushdown vs join) the size chose.
  */
class KvIndexSpec extends graft.SparkSpec {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_index_$name"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    d
  }

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** n keys, one "amt" cell each, value = a decimal string of 3*i. */
  private def cells(n: Int, tsBase: Long = 0L): DataFrame =
    spark.range(n.toLong).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'amt' AS qualifier",
      "encode(CAST(id * 3 AS STRING), 'UTF-8') AS value",
      s"id + ${tsBase}L AS ts")

  /** The ground truth: full-scan LWW view filtered by numeric range. */
  private def oracle(dir: String, lo: Long, hi: Long): Set[(String, String)] =
    spark.read.format("graft-kv").load(dir)
      .filter(col("family") === "f" && col("qualifier") === "amt")
      .groupBy("rowKey")
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(col("value"), col("ts")),
        "UTF-8").as("value"))
      .filter(col("value").cast("long") >= lo && col("value").cast("long") < hi)
      .as[(String, String)].collect().toSet

  private def looked(dir: String, lo: Long, hi: Long,
      cap: Int = KvIndex.InPushdownCap): Set[(String, String)] =
    KvIndex.lookup(spark, dir, "by_amt", lo.toString, hi.toString, cap)
      .as[(String, String)].collect().toSet

  test("create + lookup equals the full-scan answer; index prunes the value range") {
    val dir = freshDir("basic")
    cells(3000).write.format("graft-kv").option("regions", 4)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)
    looked(dir, 600, 660) shouldBe oracle(dir, 600, 660)
    looked(dir, 600, 660).size shouldBe 20 // 3i in [600,660): i in [200,220)

    // The index range scan PLANS fewer partitions than the index has
    // region files — manifest bounds prune by the value-leading key.
    val idir = KvIndex.indexDir(new Path(dir), "by_amt").toString
    val idxScan = spark.read.format("graft-kv").load(idir)
      .filter(col("rowKey") >= "00000600" && col("rowKey") < "00000660")
    assert(idxScan.rdd.getNumPartitions <
      KvLog.liveFiles(fsOf(idir), new Path(idir)).size.max(2))

    // The VERIFICATION leg (In-pushdown path) also prunes: the pushed
    // key set bloom/bounds-prunes the base scan below its region count —
    // the point-lookup shape, not a full base scan. The scan node's
    // description carries the planned/total counts.
    val res = KvIndex.lookup(spark, dir, "by_amt", "600", "606")
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
    val regions = "regions=(\\d+)/(\\d+)".r.findAllMatchIn(plan)
      .map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    assert(regions.nonEmpty, s"no kv scan in plan:\n$plan")
    assert(regions.exists { case (p, t) => t > 1 && p < t },
      s"verification scan did not prune: $regions")
  }

  test("lookups stay correct under unrefreshed DML: inserts, updates, deletes") {
    val dir = freshDir("dml")
    cells(1000).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)

    // INSERT new keys with in-range values; UPDATE some existing keys
    // into range and some out of it; DELETE a slice — all AFTER create,
    // NO refresh.
    spark.range(50).selectExpr(
      "concat('new', lpad(CAST(id AS STRING), 3, '0')) AS rowKey",
      "'f' AS family", "'amt' AS qualifier",
      "encode(CAST(700 + id AS STRING), 'UTF-8') AS value",
      "100000 + id AS ts")
      .write.format("graft-kv").option("regions", 1).mode("append").save(dir)
    // key 000100 (value 300, in [600,900)? no: 300) -> updated INTO range
    // key 000250 (value 750, in range) -> updated OUT of range
    Seq(("000100", "650", 200000L), ("000250", "99", 200001L))
      .toDF("rowKey", "v", "ts")
      .selectExpr("rowKey", "'f' AS family", "'amt' AS qualifier",
        "encode(v, 'UTF-8') AS value", "ts")
      .write.format("graft-kv").option("regions", 1).mode("append").save(dir)
    // delete keys 000210-000219 (values 630..657, all in range)
    KvDelete.deleteRows(spark, dir,
      (210 until 220).map(i => f"000$i").toDF("rowKey"))

    val expect = oracle(dir, 600, 900)
    looked(dir, 600, 900) shouldBe expect
    // Spot the semantics: the into-range update and inserts are found,
    // the out-of-range update and the deletes are not.
    assert(expect.contains(("000100", "650")))
    assert(expect.exists(_._1 == "new000"))
    assert(!expect.exists(_._1 == "000250"))
    assert(!expect.exists(_._1 == "000210"))

    // Refresh absorbs the tail; the answer is unchanged, the meta moved.
    val r = KvIndex.refresh(spark, dir, "by_amt")
    r shouldBe a[KvIndex.Refreshed]
    looked(dir, 600, 900) shouldBe expect
    KvIndex.refresh(spark, dir, "by_amt") shouldBe a[KvIndex.Fresh]

    // Scrutiny on the healthy refreshed index: the superset invariant
    // holds (no current row unindexed); stale = the expected debris of
    // the 2 value updates + 10 deleted keys' old entries.
    val s = KvIndex.scrutiny(spark, dir, "by_amt")
    s.missing shouldBe 0L
    s.current shouldBe 1040L // 1000 - 10 deleted + 50 inserts
    s.stale shouldBe 12L

    // Manufacture a real violation — mask CURRENT pairs' index entries
    // via a DELETE on the index table itself — and scrutiny flags
    // exactly them as missing.
    val idir = KvIndex.indexDir(new Path(dir), "by_amt").toString
    val victims = Seq(300, 301, 302)
      .map(i => f"${3 * i}%08d" + "\u0000" + f"$i%06d").toDF("rowKey")
    KvDelete.deleteRows(spark, idir, victims)
    KvIndex.scrutiny(spark, dir, "by_amt").missing shouldBe 3L
  }

  test("the join fallback above the In cap returns the same answer") {
    val dir = freshDir("cap")
    cells(2000).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)
    val expect = oracle(dir, 0, 3000) // 1000 keys
    looked(dir, 0, 3000, cap = 10) shouldBe expect // forced join path
    looked(dir, 0, 3000) shouldBe expect // pushdown path
  }

  test("a base resalt rebuilds on refresh and never breaks lookups") {
    val dir = freshDir("resalt")
    cells(800).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)
    // An append between create and resalt makes the refresh span
    // genuinely CROSS the declaration (entries on both sides) — the
    // boundary-aligned case would legally refresh through instead.
    cells(10, tsBase = 500000L).write.format("graft-kv").option("regions", 1)
      .mode("append").save(dir)
    KvResalt.resalt(spark, dir, Some(4)) shouldBe a[KvResalt.Resalted]
    // Unrefreshed lookup: the tail span crosses the declaration, so the
    // full-scan fallback serves it — same answer.
    looked(dir, 300, 360) shouldBe oracle(dir, 300, 360)
    KvIndex.refresh(spark, dir, "by_amt") shouldBe a[KvIndex.Rebuilt]
    looked(dir, 300, 360) shouldBe oracle(dir, 300, 360)
    // And the index keeps following ordinary DML on the salted base.
    KvSalt.saltedWrite(
      Seq(("zz0001", "333", 900000L)).toDF("rowKey", "v", "ts")
        .selectExpr("rowKey", "'f' AS family", "'amt' AS qualifier",
          "encode(v, 'UTF-8') AS value", "ts"),
      dir, n = 4, regions = 1)
    looked(dir, 300, 360) shouldBe oracle(dir, 300, 360)
    assert(looked(dir, 300, 360).exists(_._1 == "zz0001"))
  }

  test("SQL surface + self-maintenance: CALL create_index, maintained INSERT refreshes, indexes/drop_index") {
    val cat = "graftcat_idx"
    val wh = s"${sys.props("java.io.tmpdir")}/graft_test/kv_index_wh"
    graft.sinks.Sinks.deleteRecursive(spark, wh)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftKvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.i")
    cells(500).createOrReplaceTempView("idx_cells_src")
    spark.sql(
      s"""CREATE TABLE $cat.i.t USING `graft-kv`
         |TBLPROPERTIES ('regions' = '2', 'maintain' = 'true',
         |               'maintain_max_segments' = '64')
         |AS SELECT * FROM idx_cells_src""".stripMargin)
    spark.sql(s"CALL $cat.sys.create_index(table => 'i.t', " +
      "name => 'by_amt', family => 'f', qualifier => 'amt', pad => 8)")
      .collect().head.getString(0) shouldBe "created"

    // A plain INSERT into the maintain-declared table refreshes the
    // index in its post-commit policy pass — no explicit CALL.
    spark.sql(s"INSERT INTO $cat.i.t " +
      "SELECT 'fresh1', 'f', 'amt', cast('700' as binary), 999999L")
    val dir = s"$wh/i/t"
    val listed = spark.sql(s"CALL $cat.sys.indexes(table => 'i.t')").collect()
    listed.length shouldBe 1
    listed.head.getString(0) shouldBe "by_amt"
    listed.head.getLong(4) shouldBe
      KvLog.latestSeq(fsOf(dir), new Path(dir))
    // ...and the fresh row is served from the ABSORBED index (the CDC
    // tail span is empty), verified.
    assert(KvIndex.lookup(spark, dir, "by_amt", "700", "701")
      .as[(String, String)].collect().toSet == Set(("fresh1", "700")))

    spark.sql(s"CALL $cat.sys.refresh_index(table => 'i.t', name => 'by_amt')")
      .collect().head.getString(0) shouldBe "fresh"
    spark.sql(s"CALL $cat.sys.drop_index(table => 'i.t', name => 'by_amt')")
      .collect().head.getString(0) shouldBe "dropped"
    spark.sql(s"CALL $cat.sys.indexes(table => 'i.t')").collect() shouldBe
      Array.empty
  }

  test("list, drop, refusals") {
    val dir = freshDir("admin")
    cells(100).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)
    val fs = fsOf(dir)
    KvIndex.list(fs, new Path(dir)).map(_.name) shouldBe Seq("by_amt")
    intercept[IllegalArgumentException] {
      KvIndex.create(spark, dir, "by_amt", "f", "amt")
    }.getMessage should include("already exists")
    intercept[IllegalArgumentException] {
      KvIndex.lookup(spark, dir, "nope", "0", "1").collect()
    }.getMessage should include("no index")
    KvIndex.drop(spark, dir, "by_amt") shouldBe true
    KvIndex.list(fs, new Path(dir)) shouldBe Seq.empty
    // A value containing NUL (the key separator) fails the build loudly;
    // printable separators like '|' are ordinary value bytes and WORK
    // (raw string mode) — the NUL separator keeps their ranges exact.
    val bad = freshDir("badval")
    Seq(("k1", "a\u0000b", 1L), ("k2", "a|b", 2L), ("k3", "ab", 3L))
      .toDF("rowKey", "v", "ts")
      .selectExpr("rowKey", "'f' AS family", "'amt' AS qualifier",
        "encode(v, 'UTF-8') AS value", "ts")
      .write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(bad)
    val e = intercept[Exception] {
      KvIndex.create(spark, bad, "by_amt", "f", "amt")
    }
    e.getMessage should include("NUL")
  }

  test("pipe-bearing values range-scan exactly (the NUL-separator collation law)") {
    val dir = freshDir("pipes")
    Seq(("k1", "a", 1L), ("k2", "ab", 2L), ("k3", "a|b", 3L),
      ("k4", "abc", 4L), ("k5", "b", 5L))
      .toDF("rowKey", "v", "ts")
      .selectExpr("rowKey", "'f' AS family", "'amt' AS qualifier",
        "encode(v, 'UTF-8') AS value", "ts")
      .write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt") // raw string mode
    def got(lo: String, hi: String): Set[String] =
      KvIndex.lookup(spark, dir, "by_amt", lo, hi)
        .as[(String, String)].collect().map(_._2).toSet
    // "ab" < "abc" < "a|b" < "b" in raw string order; a '|'-separated
    // index key would misplace "ab" ABOVE "abc" and drop it here.
    got("a", "abc") shouldBe Set("a", "ab")
    got("ab", "b") shouldBe Set("ab", "abc", "a|b")
    got("a|", "b") shouldBe Set("a|b")
  }

  test("decimal mode refuses over-width values and bounds instead of truncating") {
    val dir = freshDir("width")
    cells(100).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 3)
    // An over-width bound is refused up front...
    intercept[IllegalArgumentException] {
      KvIndex.lookup(spark, dir, "by_amt", "100", "1005").collect()
    }.getMessage should include("pad=3")
    // ...and an over-width VALUE fails the refresh that would index it
    // (Spark lpad would silently truncate "1000" to "100" — wrong rows).
    Seq(("k9", "1000", 999L)).toDF("rowKey", "v", "ts")
      .selectExpr("rowKey", "'f' AS family", "'amt' AS qualifier",
        "encode(v, 'UTF-8') AS value", "ts")
      .write.format("graft-kv").option("regions", 1).mode("append").save(dir)
    val e = intercept[Exception] { KvIndex.refresh(spark, dir, "by_amt") }
    e.getMessage should include("pad=3")
  }

  test("autoLookup routes a selective range through the index and a wide range to the scan") {
    val dir = freshDir("auto")
    cells(3000).write.format("graft-kv").option("regions", 4)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)

    def auto(lo: Long, hi: Long) =
      KvIndex.autoLookup(spark, dir, "f", "amt", lo.toString, hi.toString)

    // SELECTIVE range (20 of 3000 keys): routed through the index — the
    // plan contains the _index table scan, and the base verification leg
    // plans only the candidate gets (pruned regions), not a full scan.
    val narrow = auto(600, 660)
    narrow.as[(String, String)].collect().toSet shouldBe oracle(dir, 600, 660)
    // The routed signature: the index probe ran driver-side and came
    // back as a pushed In of candidate keys, whose bloom/bounds pruning
    // plans the base verification below its region count.
    val narrowPlan = narrow.queryExecution.executedPlan.toString
    assert(narrowPlan.contains("In(rowKey"), s"not routed:\n$narrowPlan")
    val pruned = "regions=(\\d+)/(\\d+)".r.findAllMatchIn(narrowPlan)
      .map(mm => (mm.group(1).toInt, mm.group(2).toInt)).toSeq
    assert(pruned.exists { case (p, t) => t > 1 && p < t },
      s"verification leg did not prune: $pruned\n$narrowPlan")

    // WIDE range (most of the table): the estimate refuses the index —
    // one full family scan, no index read, same answer.
    val wide = auto(0, 99999999)
    val widePlan = wide.queryExecution.executedPlan.toString
    assert(!widePlan.contains("In(rowKey"), s"wide range routed:\n$widePlan")
    assert(widePlan.contains("regions=4/4"), s"wide range must full-scan:\n$widePlan")
    wide.as[(String, String)].collect().toSet shouldBe oracle(dir, 0, 99999999)

    // No matching index on qualifier 'other': full scan, not an error.
    val none = KvIndex.autoLookup(spark, dir, "f", "other", "0", "9")
    none.collect().length shouldBe 0
    // A contradicting pad argument against the recorded index refuses.
    intercept[IllegalArgumentException] {
      KvIndex.autoLookup(spark, dir, "f", "amt", "1", "2", pad = 3)
    }.getMessage should include("contradicts")
  }

  test("autoLookup refuses a NUL bound whatever the range prices, indexed or not") {
    val dir = freshDir("auto_nul")
    spark.range(300).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'name' AS qualifier",
      "encode(concat('u', lpad(CAST(id AS STRING), 5, '0')), 'UTF-8') AS value",
      "id AS ts")
      .write.format("graft-kv").option("regions", 2).mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_name", "f", "name", pad = 0)
    val table = new Path(dir)
    val m = KvIndex.list(fsOf(dir), table).head
    val lo = "u00010\u0000"
    // the same NUL-carrying lo on a range the index would serve and on
    // one it would leave to the scan
    KvIndex.rangeIsSelective(fsOf(dir), table, m, lo, "u00020") shouldBe true
    KvIndex.rangeIsSelective(fsOf(dir), table, m, lo, "v") shouldBe false
    for ((qualifier, hi) <- Seq(("name", "u00020"), ("name", "v"), ("other", "v")))
      withClue(s"$qualifier [lo, $hi): ") {
        intercept[IllegalArgumentException] {
          KvIndex.autoLookup(spark, dir, "f", qualifier, lo, hi).collect()
        }.getMessage should include("contains NUL")
      }
  }

  /** Two-qualifier cells for covered-index tests: every key has an `amt`
    * (value 3i), even keys also a `tag` (value "t<i>").
    */
  private def cells2q(n: Int, tsBase: Long = 0L): DataFrame = {
    val amt = cells(n, tsBase)
    val tag = spark.range(n.toLong).filter("id % 2 = 0").selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'tag' AS qualifier",
      "encode(concat('t', CAST(id AS STRING)), 'UTF-8') AS value",
      s"id + ${tsBase}L AS ts")
    amt.unionByName(tag)
  }

  /** Ground truth for covered lookups: (rowKey, amt value, tag value). */
  private def oracleCov(dir: String, lo: Long, hi: Long)
      : Set[(String, String, Option[String])] = {
    val amt = oracle(dir, lo, hi)
    val tags = spark.read.format("graft-kv").load(dir)
      .filter(col("family") === "f" && col("qualifier") === "tag")
      .groupBy("rowKey")
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(col("value"), col("ts")),
        "UTF-8").as("tag"))
      .as[(String, String)].collect().toMap
    amt.map { case (k, v) => (k, v, tags.get(k)) }
  }

  test("covered index: fresh lookups serve INDEX-ONLY — zero base data-file opens") {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration.set("fs.cfs.impl",
      classOf[CountingFileSystem].getName)
    val base = s"${sys.props("java.io.tmpdir")}/graft_test/kv_index_covfs"
    graft.sinks.Sinks.deleteRecursive(spark, base)
    val dir = s"cfs:$base"
    cells2q(1000).write.format("graft-kv").option("regions", 4)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "cov", "f", "amt", pad = 8,
      include = Seq("tag"))
    val expect = oracleCov(dir, 600, 660)

    CountingFileSystem.reset()
    val got = KvIndex.lookupCovered(spark, dir, "cov", "600", "660")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSet
    val opened = CountingFileSystem.openedData.asScala.toSet
    assert(opened.nonEmpty && opened.forall(_.contains("/_index/")),
      s"covered read touched base data files: $opened")
    got shouldBe expect

    // The plain lookup takes the same index-only path when fresh.
    val expectPlain = oracle(dir, 600, 660)
    CountingFileSystem.reset()
    KvIndex.lookup(spark, dir, "cov", "600", "660")
      .as[(String, String)].collect().toSet shouldBe expectPlain
    assert(CountingFileSystem.openedData.asScala.forall(_.contains("/_index/")))
  }

  test("exact refresh after clustered DML opens only the touched region's base files") {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration.set("fs.cfs.impl",
      classOf[CountingFileSystem].getName)
    val base = s"${sys.props("java.io.tmpdir")}/graft_test/kv_index_reffs"
    graft.sinks.Sinks.deleteRecursive(spark, base)
    val dir = s"cfs:$base"
    cells2q(1000).write.format("graft-kv").option("regions", 4)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8,
      include = Seq("tag"))
    // Clustered DML: 20 updated keys, all inside ONE region's key range.
    spark.range(100, 120).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'amt' AS qualifier",
      "encode(CAST(id * 3 + 1 AS STRING), 'UTF-8') AS value",
      "5000 + id AS ts")
      .write.format("graft-kv").option("regions", 1).mode("append").save(dir)
    val baseFiles = KvLog.liveFiles(fsOf(dir), new Path(dir)).size
    assert(baseFiles >= 5) // 4 regions + the DML span file

    CountingFileSystem.reset()
    KvIndex.refresh(spark, dir, "by_amt") shouldBe a[KvIndex.Refreshed]
    // O(touched) planning (r20): the pre/post re-reads push the touched
    // keys as In, which region-prunes to the one base file whose range
    // holds them; the feed reads the span's DML file. The other three
    // regions' base files must never open during the refresh.
    val openedBase = CountingFileSystem.openedData.asScala.toSet
      .filterNot(_.contains("/_index/"))
    assert(openedBase.size <= 2,
      s"refresh opened ${openedBase.size} base files (want <= 2): $openedBase")

    // ...and the refreshed index answers exactly over the moved values.
    looked(dir, 600, 660) shouldBe oracle(dir, 600, 660)
    KvIndex.lookupCovered(spark, dir, "by_amt", "300", "340")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSet shouldBe oracleCov(dir, 300, 340)
  }

  test("covered index stays EXACT through DML: superseded entries tombstone, re-adds survive") {
    val dir = freshDir("covdml")
    cells2q(1000).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8,
      include = Seq("tag"))

    def upsert(key: String, v: String, ts: Long): Unit =
      Seq((key, v, ts)).toDF("rowKey", "v", "ts")
        .selectExpr("rowKey", "'f' AS family", "'amt' AS qualifier",
          "encode(v, 'UTF-8') AS value", "ts")
        .write.format("graft-kv").option("regions", 1).mode("append").save(dir)

    // value moves OUT of [600, 900), another moves IN, one key deleted,
    // one inserted, one include-only (tag) change.
    upsert("000210", "99", 100000L) // 630 -> out
    upsert("000050", "777", 100001L) // 150 -> in
    KvDelete.deleteRows(spark, dir, Seq("000220").toDF("rowKey"))
    upsert("newkey", "800", 100002L) // insert, in range
    Seq(("000214", "tchanged", 100003L)).toDF("rowKey", "v", "ts")
      .selectExpr("rowKey", "'f' AS family", "'tag' AS qualifier",
        "encode(v, 'UTF-8') AS value", "ts")
      .write.format("graft-kv").option("regions", 1).mode("append").save(dir)

    // STALE (unrefreshed): the verified fallback serves both lookups.
    looked(dir, 600, 900) shouldBe oracle(dir, 600, 900)
    KvIndex.lookupCovered(spark, dir, "by_amt", "600", "900")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSet shouldBe oracleCov(dir, 600, 900)

    // Refresh: EXACT — the superseded entries (000210's 630, 000220's
    // 660, 000214's old tag payload) are tombstoned, not left as debris.
    KvIndex.refresh(spark, dir, "by_amt") shouldBe a[KvIndex.Refreshed]
    val s = KvIndex.scrutiny(spark, dir, "by_amt")
    s.missing shouldBe 0L
    s.stale shouldBe 0L // exactness, visible: a plain index would show debris
    // FRESH again: index-only answers match.
    looked(dir, 600, 900) shouldBe oracle(dir, 600, 900)
    val cov = KvIndex.lookupCovered(spark, dir, "by_amt", "600", "900")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSet
    cov shouldBe oracleCov(dir, 600, 900)
    assert(cov.exists(t => t._1 == "000214" && t._3.contains("tchanged")))
    assert(cov.exists(_._1 == "newkey"))
    assert(!cov.exists(_._1 == "000220"))

    // Re-add cycle: a value leaves and re-enters the range across two
    // refreshes — the re-added entry must out-ts the older tombstone
    // (the seq-valued-ts rule), so the final fresh lookup finds it.
    upsert("000230", "5", 200000L) // 690 -> out
    KvIndex.refresh(spark, dir, "by_amt") shouldBe a[KvIndex.Refreshed]
    looked(dir, 600, 900) should not contain ("000230" -> "690")
    upsert("000230", "690", 200001L) // back in
    KvIndex.refresh(spark, dir, "by_amt") shouldBe a[KvIndex.Refreshed]
    looked(dir, 600, 900) shouldBe oracle(dir, 600, 900)
    assert(looked(dir, 600, 900).contains("000230" -> "690"))
    KvIndex.scrutiny(spark, dir, "by_amt").stale shouldBe 0L
  }

  test("decimal mode refuses NON-DIGIT values at build and refresh") {
    val dir = freshDir("nondigit")
    cells(100).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(dir)
    // A non-digit value pads INSIDE numeric ranges ('ab' → '0ab' lies in
    // ['000','999')) — admitting it would return non-numeric rows from a
    // decimal range, so the build refuses loudly.
    Seq(("kx", "ab", 50L)).toDF("rowKey", "v", "ts")
      .selectExpr("rowKey", "'f' AS family", "'amt' AS qualifier",
        "encode(v, 'UTF-8') AS value", "ts")
      .write.format("graft-kv").option("regions", 1).mode("append").save(dir)
    val e = intercept[Exception] {
      KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 3)
    }
    e.getMessage should include("not a non-negative decimal")
    // A STRING index (pad = 0) over the same column is fine.
    KvIndex.create(spark, dir, "by_amt_s", "f", "amt", pad = 0)
    KvIndex.lookup(spark, dir, "by_amt_s", "aa", "ac")
      .as[(String, String)].collect().toSet shouldBe Set("kx" -> "ab")
    // And on a clean decimal index, a refresh over a later non-digit
    // write refuses the same way instead of silently indexing it.
    val dir2 = freshDir("nondigit2")
    cells(100).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(dir2)
    KvIndex.create(spark, dir2, "by_amt", "f", "amt", pad = 3)
    Seq(("ky", "3x", 60L)).toDF("rowKey", "v", "ts")
      .selectExpr("rowKey", "'f' AS family", "'amt' AS qualifier",
        "encode(v, 'UTF-8') AS value", "ts")
      .write.format("graft-kv").option("regions", 1).mode("append").save(dir2)
    intercept[Exception] { KvIndex.refresh(spark, dir2, "by_amt") }
      .getMessage should include("not a non-negative decimal")
  }

  test("covered lookup refuses invalid decimal bounds IDENTICALLY fresh and stale") {
    val dir = freshDir("covbounds")
    cells2q(200).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "cov", "f", "amt", pad = 3,
      include = Seq("tag"))
    // FRESH: the index-only fast path must refuse a non-digit and an
    // over-width bound just like lookup() — not silently compare lexically.
    intercept[IllegalArgumentException] {
      KvIndex.lookupCovered(spark, dir, "cov", "ab", "200")
    }.getMessage should include("non-negative decimal")
    intercept[IllegalArgumentException] {
      KvIndex.lookupCovered(spark, dir, "cov", "1", "12345")
    }.getMessage should include("exceeds")
    // STALE (an unabsorbed append): the same refusals, same messages —
    // behavior must not depend on maintenance timing.
    cells2q(10, tsBase = 100000L).write.format("graft-kv")
      .option("regions", 1).mode("append").save(dir)
    intercept[IllegalArgumentException] {
      KvIndex.lookupCovered(spark, dir, "cov", "ab", "200")
    }.getMessage should include("non-negative decimal")
    intercept[IllegalArgumentException] {
      KvIndex.lookupCovered(spark, dir, "cov", "1", "12345")
    }.getMessage should include("exceeds")
    // And a VALID stale covered lookup still matches the oracle (the
    // one-pinned-seq path).
    KvIndex.lookupCovered(spark, dir, "cov", "100", "200")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSet shouldBe oracleCov(dir, 100, 200)
  }

  test("vacuum guard: a meta-carrying .old park with NO live slot is never reclaimable") {
    val dir = freshDir("vacguard")
    cells(200).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)
    val fs = fsOf(dir)
    val table = new Path(dir)
    val root = new Path(dir, KvIndex.DirName)
    val live = new Path(root, "by_amt")
    // Park the live index (crashed swap) — the park is the ONLY copy.
    val aside = new Path(root, ".old-by_amt-deadbeef")
    assert(fs.rename(live, aside))
    assert(!KvIndex.oldDirSafeToReclaim(fs, table, ".old-by_amt-deadbeef"),
      "the only copy of a live index must never be GC debris")
    // Restore (what recoverOrphans does); the park is gone, but test the
    // remaining cases explicitly:
    assert(fs.rename(aside, live))
    // (a) a meta-carrying park whose live slot EXISTS = completed swap
    //     leftovers — reclaimable;
    org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, aside, false,
      fs.getConf)
    assert(KvIndex.oldDirSafeToReclaim(fs, table, ".old-by_amt-deadbeef"))
    fs.delete(aside, true)
    // (b) a metaless park (partial copy) — reclaimable;
    val empty = new Path(root, ".old-by_amt-cafef00d")
    fs.mkdirs(empty)
    assert(KvIndex.oldDirSafeToReclaim(fs, table, ".old-by_amt-cafef00d"))
    // (c) a name that doesn't parse as an index park — plain debris.
    assert(KvIndex.oldDirSafeToReclaim(fs, table, ".old-junk"))
  }

  test("a crashed rebuild swap self-heals: refresh recovers the parked index, vacuum GCs staging debris") {
    val dir = freshDir("crashswap")
    cells(300).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)
    val fs = fsOf(dir)
    val root = new Path(dir, KvIndex.DirName)
    val live = new Path(root, "by_amt")
    // Simulate a crash between the swap's two renames: the live index is
    // parked aside, nothing sits in the live slot.
    val aside = new Path(root, ".old-by_amt-deadbeef")
    assert(fs.rename(live, aside))
    KvIndex.list(fs, new Path(dir)) shouldBe Nil
    // The next maintenance refresh self-heals instead of throwing
    // "no index", and the recovered index serves correct lookups.
    KvIndex.refresh(spark, dir, "by_amt") shouldBe a[KvIndex.Fresh]
    looked(dir, 300, 360) shouldBe oracle(dir, 300, 360)
    KvIndex.list(fs, new Path(dir)).map(_.name) shouldBe Seq("by_amt")

    // Aged crash leftovers under _index/ — a .rebuild staging dir, and a
    // parked .old whose live slot EXISTS (swap completed) — are GC'd by
    // vacuum; young ones are left alone.
    val staged = new Path(root, ".rebuild-by_amt-cafef00d")
    fs.mkdirs(staged)
    KvLog.writeText(fs, new Path(staged, "junk"), "x")
    val debris = new Path(root, ".old-by_amt-cafef00d")
    fs.mkdirs(debris)
    KvVacuum.vacuum(spark, dir, graceMs = 24L * 3600 * 1000)
    assert(fs.exists(staged), "young staging dir must survive")
    // Age them below the cutoff and vacuum again.
    Seq(staged, debris).foreach { p =>
      fs.listStatus(p).foreach(st => fs.setTimes(st.getPath, 1000L, 1000L))
      fs.setTimes(p, 1000L, 1000L)
    }
    KvVacuum.vacuum(spark, dir, graceMs = 1000L)
    assert(!fs.exists(staged), "aged .rebuild staging must be reclaimed")
    assert(!fs.exists(debris), "aged .old debris must be reclaimed")
    assert(fs.exists(live), "the live index is never touched")
    looked(dir, 300, 360) shouldBe oracle(dir, 300, 360)
  }

  test("a maintained pass refreshes BEFORE it compacts: no rebuild on the compacting pass") {
    val dir = freshDir("order")
    cells(400).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)
    // Pile up segments past the threshold, then run ONE maintenance pass
    // (threshold 3 => it will compact). The pass must refresh the index
    // FIRST — refreshing after the floor rise would force a full rebuild
    // on every compacting pass.
    (1 to 4).foreach { i =>
      cells(30, tsBase = i * 100000L).write.format("graft-kv")
        .option("regions", 1).mode("append").save(dir)
    }
    KvMaintenance.maintain(spark, dir,
      KvMaintenance.Policy(maxSegments = 3, majorCompact = true,
        vacuumGraceMs = 0L))
    val fs = fsOf(dir)
    val m = KvIndex.meta(fs, new Path(dir), "by_amt").get
    // The pass's refresh covered everything up to (not incl.) its own
    // compaction entry, so the NEXT refresh is servable — Fresh or
    // Refreshed, never the O(table) Rebuilt.
    assert(m.asOfSeq >= 4, s"pass refreshed to ${m.asOfSeq}")
    val next = KvIndex.refresh(spark, dir, "by_amt")
    assert(!next.isInstanceOf[KvIndex.Rebuilt], s"got $next")
    looked(dir, 300, 360) shouldBe oracle(dir, 300, 360)
  }

  test("a truncating overwrite preserves the index as an empty shell that self-heals") {
    val dir = freshDir("truncshell")
    cells(300).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)
    // Overwrite with DIFFERENT contents (shifted values).
    cells(100, tsBase = 900000L)
      .withColumn("value", encode(
        (col("ts") - 900000L).cast("long").*(lit(7L)).cast("string"), "UTF-8"))
      .write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(dir)
    val fs = fsOf(dir)
    // The definition survived as a shell covering nothing...
    val m = KvIndex.meta(fs, new Path(dir), "by_amt").get
    m.asOfSeq shouldBe -1L
    m.qualifier shouldBe "amt"
    // ...lookups are immediately correct (the CDC tail spans the whole
    // new table), and a refresh absorbs the new contents incrementally.
    looked(dir, 70, 140) shouldBe oracle(dir, 70, 140)
    assert(looked(dir, 70, 140).nonEmpty)
    KvIndex.refresh(spark, dir, "by_amt") shouldBe a[KvIndex.Refreshed]
    looked(dir, 70, 140) shouldBe oracle(dir, 70, 140)
  }

  test("decimal-mode bound and meta-encoding refusals") {
    val dir = freshDir("refuse2")
    cells(50).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 5)
    intercept[IllegalArgumentException] {
      KvIndex.lookup(spark, dir, "by_amt", "-10", "20").collect()
    }.getMessage should include("non-negative decimal")
    intercept[IllegalArgumentException] {
      KvIndex.create(spark, dir, "idx2", "f", "my col")
    }.getMessage should include("whitespace")
    intercept[IllegalArgumentException] {
      KvIndex.create(spark, dir, "idx2", "f", "a=b")
    }.getMessage should include("whitespace")
  }

  test("a compaction-floor rise past the covered seq rebuilds instead of bricking") {
    val dir = freshDir("floor")
    cells(400).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)
    // Appends + a major compaction raise the floor above the covered seq:
    // the CDC span (covered, latest] is no longer reconstructible.
    cells(50, tsBase = 700000L).write.format("graft-kv").option("regions", 1)
      .mode("append").save(dir)
    cells(50, tsBase = 800000L).write.format("graft-kv").option("regions", 1)
      .mode("append").save(dir)
    KvCompactor.compact(spark, dir, regions = 2) shouldBe a[KvCompactor.Compacted]
    val fs = fsOf(dir)
    assert(KvLog.floor(fs, new Path(dir)) >
      KvIndex.meta(fs, new Path(dir), "by_amt").get.asOfSeq + 1)
    // Unrefreshed lookup: served via the full-scan tail fallback.
    looked(dir, 300, 360) shouldBe oracle(dir, 300, 360)
    // Refresh rebuilds (staged swap), and lookups keep working.
    KvIndex.refresh(spark, dir, "by_amt") shouldBe a[KvIndex.Rebuilt]
    looked(dir, 300, 360) shouldBe oracle(dir, 300, 360)
  }
}
