package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL-surface automatic index routing ([[KvIndexRouting]]): a plain SQL
  * range predicate over the LWW-pivoted view of one qualifier must plan
  * the verified secondary-index lookup when the manifest-stat cost call
  * says the range is selective — and must keep (or fall back to) the
  * ordinary full scan everywhere else, with bit-identical answers either
  * way.
  */
class KvIndexRoutingSpec extends graft.SparkSpec {

  private val base = s"${sys.props("java.io.tmpdir")}/graft_test/kv_routing"

  /** 400 rows, value = id * 7 as a decimal string, plus a post-index DML
    * tail (updates into the probed range + deletes) so routed answers
    * exercise verification, not just the happy path.
    */
  private lazy val decimalTable: String = {
    val path = s"$base/dec"
    graft.sinks.Sinks.deleteRecursive(spark, path)
    spark.range(400).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'v' AS qualifier",
      "encode(CAST(id * 7 AS STRING), 'UTF-8') AS value",
      "id AS ts")
      .write.format("graft-kv").option("regions", 4).mode("overwrite").save(path)
    KvIndex.create(spark, path, "by_v", "f", "v", pad = 6, regions = 2)
    // moves keys 0..9 INTO [1000, 1100) — stale index entries + CDC tail
    spark.range(10).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'v' AS qualifier",
      "encode(CAST(1000 + id AS STRING), 'UTF-8') AS value",
      "1000000 + id AS ts")
      .write.format("graft-kv").option("regions", 1).mode("append").save(path)
    KvDelete.deleteRows(spark, path,
      spark.range(150, 160).selectExpr(
        "lpad(CAST(id AS STRING), 6, '0') AS rowKey"))
    val r = KvIndex.refresh(spark, path, "by_v")
    assert(r.isInstanceOf[KvIndex.Refreshed], s"staging refresh: $r")
    KvIndexRouting.install(spark)
    path
  }

  private def pivotView(path: String): DataFrame =
    spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier") === "v")
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value"))

  private def rangeSql(view: String): String =
    s"""SELECT rowKey, value FROM $view
       |WHERE CAST(value AS BIGINT) >= 1000 AND CAST(value AS BIGINT) < 1100""".stripMargin

  private def planOf(df: DataFrame): String = {
    df.collect(): Unit
    df.queryExecution.executedPlan.toString
  }

  /** Routed-plan signature (r18): the splice is the LAZY
    * [[KvRoutedLookup]] leaf — the lookup itself (version probe,
    * candidate probe, verification) runs at execution time, so the
    * outer plan carries the node, not the inlined lookup plan.
    */
  private def routed(plan: String): Boolean = plan.contains("KvRoutedLookup")

  test("selective SQL range routes through the index: index scan + candidate gets") {
    pivotView(decimalTable).createOrReplaceTempView("rt_dec")
    val df = spark.sql(rangeSql("rt_dec"))
    val plan = planOf(df)
    assert(routed(plan), s"expected routed candidate gets in:\n$plan")
    // answer = updated keys 0..9 (values 1000..1009) plus the untouched
    // keys 143..149 (7·id in [1001, 1043]); keys 150..157 would be in
    // range but are DELETED — the routed verification must mask them
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).sorted
    val want = ((0 until 10).map(i => (f"$i%06d", (1000 + i).toString)) ++
      (143 to 149).map(i => (f"$i%06d", (i * 7).toString))).sorted
    got.toSeq shouldBe want
  }

  test("routed and unrouted plans return bit-identical answers") {
    pivotView(decimalTable).createOrReplaceTempView("rt_dec")
    val viaIndex = spark.sql(rangeSql("rt_dec")).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    spark.conf.set(KvIndexRouting.EnabledKey, "false")
    try {
      val plain = spark.sql(rangeSql("rt_dec"))
      val plan = planOf(plain)
      assert(!routed(plan), s"routing ran while disabled:\n$plan")
      plain.collect().map(r => (r.getString(0), r.getString(1))).sorted
        .toSeq shouldBe viaIndex.toSeq
    } finally spark.conf.unset(KvIndexRouting.EnabledKey)
  }

  test("unselective range keeps the full scan (cost call refuses)") {
    pivotView(decimalTable).createOrReplaceTempView("rt_dec")
    // [0, 3000) covers most of the table — an index would turn one scan
    // into a scan's worth of gets
    val df = spark.sql(
      """SELECT rowKey, value FROM rt_dec
        |WHERE CAST(value AS BIGINT) >= 0 AND CAST(value AS BIGINT) < 3000""".stripMargin)
    val plan = planOf(df)
    assert(!routed(plan), s"unselective range routed:\n$plan")
    // 400 rows, all values < 3000 (max id*7 = 2793; updates land at
    // 1000..1009), minus the 10 deleted keys 150..159
    df.count() shouldBe 390L
  }

  test("the routing threshold: an estimate at 0.2 × base rows routes, just above keeps the scan") {
    KvIndex.MaxSelectivity shouldBe 0.2
    val path = s"$base/threshold"
    graft.sinks.Sinks.deleteRecursive(spark, path)
    spark.range(1000).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'v' AS qualifier",
      "encode(CAST(id AS STRING), 'UTF-8') AS value", "id AS ts")
      .write.format("graft-kv").option("regions", 4).mode("overwrite").save(path)
    // ten index files keep the interpolated estimate within ~1% of the
    // true count, so "just above" is one step past the threshold
    KvIndex.create(spark, path, "by_v", "f", "v", pad = 6, regions = 10)
    KvIndexRouting.install(spark)
    val table = new org.apache.hadoop.fs.Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val m = KvIndex.list(fs, table).head
    def estimate(hi: Int): Double =
      KvIndex.rangeEstimate(fs, table, m, "0", hi.toString)._1
    KvIndex.rangeEstimate(fs, table, m, "0", "1")._2 shouldBe 1000L
    // [0, over) is the first range priced above 0.2 × 1000 rows;
    // [0, at) is the widest at or under it
    val over = (1 to 1000).find(hi => estimate(hi) > 200.0).get
    val at = over - 1
    estimate(at) should (be <= 200.0 and be >= 190.0)
    estimate(over) should be <= 210.0

    def auto(hi: Int): DataFrame = KvIndex.autoLookup(spark, path, "f", "v", "0", hi.toString)
    def autoRouted(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("In(rowKey")
    assert(autoRouted(auto(at)), s"autoLookup [0, $at) kept the scan")
    assert(!autoRouted(auto(over)), s"autoLookup [0, $over) routed")
    auto(at).count() shouldBe at.toLong
    auto(over).count() shouldBe over.toLong

    pivotView(path).createOrReplaceTempView("rt_threshold")
    def sqlRange(hi: Int): DataFrame = spark.sql(
      s"""SELECT rowKey, value FROM rt_threshold
         |WHERE CAST(value AS BIGINT) >= 0 AND CAST(value AS BIGINT) < $hi""".stripMargin)
    assert(routed(planOf(sqlRange(at))), s"SQL [0, $at) kept the scan")
    assert(!routed(planOf(sqlRange(over))), s"SQL [0, $over) routed")
    sqlRange(at).count() shouldBe at.toLong
    sqlRange(over).count() shouldBe over.toLong
  }

  test("string-mode index routes exact [lo, hi) string bounds") {
    val path = s"$base/str"
    graft.sinks.Sinks.deleteRecursive(spark, path)
    spark.range(300).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'name' AS qualifier",
      "encode(concat('u', lpad(CAST(id AS STRING), 5, '0')), 'UTF-8') AS value",
      "id AS ts")
      .write.format("graft-kv").option("regions", 4).mode("overwrite").save(path)
    KvIndex.create(spark, path, "by_name", "f", "name", pad = 0, regions = 2)
    KvIndexRouting.install(spark)
    spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier") === "name")
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value"))
      .createOrReplaceTempView("rt_str")
    val df = spark.sql(
      "SELECT rowKey, value FROM rt_str WHERE value >= 'u00010' AND value < 'u00020'")
    val plan = planOf(df)
    assert(routed(plan), s"expected routed candidate gets in:\n$plan")
    df.count() shouldBe 10L
    // >/<= have no closed-form exclusive twin in string collation: residual
    val loose = spark.sql(
      "SELECT rowKey, value FROM rt_str WHERE value > 'u00010' AND value <= 'u00020'")
    assert(!routed(planOf(loose)), "string >/<= must not route")
    loose.count() shouldBe 10L
    // a NUL-carrying bound is inexpressible to the index (the key
    // separator): it must DECLINE at plan time — since r18 the lookup
    // runs at execution, where its refusal would have no unrouted
    // fallback and the rewrite decision must never be load-bearing
    val nulBound = spark.sql(
      """SELECT rowKey, value FROM rt_str
        |WHERE value >= 'u00010' AND value < concat('u00020', chr(0))""".stripMargin)
    assert(!routed(planOf(nulBound)), "NUL-carrying bound routed")
    nulBound.count() shouldBe 11L // 'u00020' itself is below the NUL tail
  }

  test("shapes that answer a different question never route") {
    val path = decimalTable
    // 1. time travel: the pinned version is not the current view
    val asOf = spark.read.format("graft-kv").option("asOfSeq", "1").load(path)
      .filter(col("family") === "f" && col("qualifier") === "v")
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value"))
      .filter(expr("CAST(value AS BIGINT) >= 1000 AND CAST(value AS BIGINT) < 1100"))
    assert(!routed(planOf(asOf)), "time-travel read routed")
    // 2. extra predicate under the aggregate changes the pivot's input
    val scoped = spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier") === "v" &&
        col("ts") < 100)
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value"))
      .filter(expr("CAST(value AS BIGINT) >= 1000 AND CAST(value AS BIGINT) < 1100"))
    assert(!routed(planOf(scoped)), "ts-scoped pivot routed")
    // 3. a (family, qualifier) with no index keeps the scan
    val noIdx = spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier") === "other")
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value"))
      .filter(expr("CAST(value AS BIGINT) >= 1000 AND CAST(value AS BIGINT) < 1100"))
    assert(!routed(planOf(noIdx)), "unindexed qualifier routed")
  }

  test("two-column predicate over a two-qualifier pivot routes through the composite index") {
    val path = s"$base/comp"
    graft.sinks.Sinks.deleteRecursive(spark, path)
    val a = spark.range(400).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'a' AS qualifier",
      "encode(CAST(id * 3 AS STRING), 'UTF-8') AS value", "id AS ts")
    val b = spark.range(400).filter("id % 2 = 0").selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'b' AS qualifier",
      "encode(CAST(id * 5 AS STRING), 'UTF-8') AS value", "id AS ts")
    a.unionByName(b).write.format("graft-kv").option("regions", 4)
      .mode("overwrite").save(path)
    KvIndex.create(spark, path, "by_ab", "f", "a", pad = 8,
      regions = 2, rest = Seq(("b", 8)))
    KvIndexRouting.install(spark)
    spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier").isin("a", "b"))
      .groupBy(col("rowKey"))
      .agg(
        decode(graft.functions.MaxByTsAgg.maxByTs(col("value"),
          when(col("qualifier") === "a", col("ts"))), "UTF-8").as("va"),
        decode(graft.functions.MaxByTsAgg.maxByTs(col("value"),
          when(col("qualifier") === "b", col("ts"))), "UTF-8").as("vb"))
      .createOrReplaceTempView("rt_comp")
    val sql =
      """SELECT rowKey, va, vb FROM rt_comp
        |WHERE CAST(va AS BIGINT) >= 600 AND CAST(va AS BIGINT) < 660
        |  AND CAST(vb AS BIGINT) >= 0   AND CAST(vb AS BIGINT) < 1030""".stripMargin
    val df = spark.sql(sql)
    // fresh composite index: the route is INDEX-ONLY — its signature is
    // the index-table scan (no base verification gets at all)
    df.collect(): Unit
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("KvRoutedLookup"),
      s"composite pivot did not route:\n$plan")
    // b = 5i < 1030 keeps even i < 206; a = 3i in [600,660) → i in
    // [200,220): keys 200, 202, 204
    val got = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).sorted
    got.toSeq shouldBe Seq(200, 202, 204)
      .map(i => (f"$i%06d", (i * 3).toString, (i * 5).toString))
    // the unrouted plan agrees
    spark.conf.set(KvIndexRouting.EnabledKey, "false")
    try {
      val plain = spark.sql(sql)
      assert(!planOf(plain).contains("KvRoutedLookup"))
      plain.collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2))).sorted
        .toSeq shouldBe got.toSeq
    } finally spark.conf.unset(KvIndexRouting.EnabledKey)
    // a predicate missing one component's range keeps the scan: the
    // composite row set (inner join) would drop rows lacking 'b'
    val oneSided = spark.sql(
      """SELECT rowKey, va, vb FROM rt_comp
        |WHERE CAST(va AS BIGINT) >= 600 AND CAST(va AS BIGINT) < 660""".stripMargin)
    assert(!planOf(oneSided).contains("KvRoutedLookup"),
      "one-sided predicate must not route through the composite index")
    oneSided.count() shouldBe 20L // all of [200, 220), odd keys included
  }

  test("the splice preserves output ORDER and arity (value first, duplicated rowKey)") {
    val path = decimalTable
    // value column FIRST, rowKey duplicated under an alias — the routed
    // plan must reproduce exactly this output list, or positional
    // consumers see swapped/missing columns depending on the cost call
    spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier") === "v")
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value"))
      .select(col("value"), col("rowKey"), col("rowKey").as("rk2"))
      .createOrReplaceTempView("rt_swapped")
    val sql =
      """SELECT * FROM rt_swapped
        |WHERE CAST(value AS BIGINT) >= 1000 AND CAST(value AS BIGINT) < 1100""".stripMargin
    val df = spark.sql(sql)
    df.columns.toSeq shouldBe Seq("value", "rowKey", "rk2")
    // the enabled path must actually ROUTE — otherwise this test would
    // compare the unrouted plan against itself and pass vacuously
    assert(routed(planOf(df)), "the swapped-output pivot did not route")
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted
    got.foreach { case (_, k, k2) => k shouldBe k2 }
    spark.conf.set(KvIndexRouting.EnabledKey, "false")
    try {
      val plain = spark.sql(sql)
      assert(!routed(planOf(plain)))
      plain.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted
        .toSeq shouldBe got.toSeq
    } finally spark.conf.unset(KvIndexRouting.EnabledKey)
  }

  test("routed SQL reads at EXECUTION time: planning is pure, an interleaved commit is visible") {
    import scala.jdk.CollectionConverters._
    val path = s"$base/exec_time"
    spark.sparkContext.hadoopConfiguration.set("fs.cfs.impl",
      classOf[CountingFileSystem].getName)
    graft.sinks.Sinks.deleteRecursive(spark, path)
    val dir = s"cfs:$path"
    spark.range(400).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'v' AS qualifier",
      "encode(CAST(id * 7 AS STRING), 'UTF-8') AS value", "id AS ts")
      .write.format("graft-kv").option("regions", 4).mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_v", "f", "v", pad = 6, regions = 2)
    KvIndexRouting.install(spark)
    spark.read.format("graft-kv").load(dir)
      .filter(col("family") === "f" && col("qualifier") === "v")
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value"))
      .createOrReplaceTempView("rt_exec")
    val df = spark.sql(rangeSql("rt_exec"))
    // 1. PLANNING IS PURE: forcing the physical plan runs no lookup —
    //    zero data-file opens (r17 ran the candidate probe here)
    CountingFileSystem.reset()
    val plan = df.queryExecution.executedPlan.toString
    assert(routed(plan), s"expected a routed plan:\n$plan")
    assert(CountingFileSystem.dataOpens.get() == 0L,
      s"planning opened data files: ${CountingFileSystem.openedData.asScala}")
    // 2. an INTERLEAVED commit lands between plan and execute: key
    //    000900 moves into [1000, 1100)
    spark.range(1).selectExpr(
      "'000900' AS rowKey", "'f' AS family", "'v' AS qualifier",
      "encode('1050', 'UTF-8') AS value", "999999L AS ts")
      .write.format("graft-kv").option("regions", 1).mode("append").save(dir)
    // 3. the routed EXECUTION sees it — same rows as an unrouted run NOW
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(got.exists(_._1 == "000900"),
      s"routed execution pinned the plan-time version: $got")
    spark.conf.set(KvIndexRouting.EnabledKey, "false")
    try {
      spark.sql(rangeSql("rt_exec")).collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq shouldBe
        got.toSeq
    } finally spark.conf.unset(KvIndexRouting.EnabledKey)
  }

  test("routed-lookup statistics keep the spliced side broadcast-able in a join") {
    pivotView(decimalTable).createOrReplaceTempView("rt_dec")
    spark.range(100000).selectExpr(
      "lpad(CAST(id % 400 AS STRING), 6, '0') AS rowKey", "id AS w")
      .createOrReplaceTempView("rt_fact")
    // the routed subquery carries the manifest-stat row/byte estimate
    // (KvRoutedLookup.computeStats) — without it a leaf defaults to
    // "unknown/huge" and NO join against a routed lookup could ever
    // auto-broadcast; with it the selective side broadcasts
    val df = spark.sql(
      """SELECT f.rowKey, f.w, v.value FROM rt_fact f
        |JOIN (SELECT rowKey, value FROM rt_dec
        |      WHERE CAST(value AS BIGINT) >= 1000
        |        AND CAST(value AS BIGINT) < 1100) v
        |ON f.rowKey = v.rowKey""".stripMargin)
    val plan = planOf(df)
    assert(routed(plan), s"join subquery did not route:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"routed side did not broadcast:\n$plan")
    // 17 in-range keys (0..9 updated in + 143..149) × 250 fact rows each
    df.count() shouldBe 17L * 250
  }

  test("extensions-built session routes through the injected pre-CBO rule") {
    val path = decimalTable
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .appName("graft-routing-ext-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    try {
      ext.read.format("graft-kv").load(path)
        .createOrReplaceTempView("rt_ext_cells")
      val df = ext.sql(
        """SELECT rowKey, value FROM (
          |  SELECT rowKey, decode(max_by_ts(value, ts), 'UTF-8') AS value
          |  FROM rt_ext_cells
          |  WHERE family = 'f' AND qualifier = 'v'
          |  GROUP BY rowKey)
          |WHERE CAST(value AS BIGINT) >= 1000 AND CAST(value AS BIGINT) < 1100""".stripMargin)
      df.collect(): Unit
      val plan = df.queryExecution.executedPlan.toString
      assert(routed(plan), s"extensions session did not route:\n$plan")
      df.count() shouldBe 17L // keys 0..9 updated in + 143..149 native
    } finally {
      prev.foreach(SparkSession.setDefaultSession)
      prev.foreach(SparkSession.setActiveSession)
    }
  }
}
