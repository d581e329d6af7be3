package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SPJ reach for the engine's own path-level kv⋈kv joins
  * ([[GraftKvPathCatalog]] / [[KvRead]]): a snapshot diff over two
  * same-layout sides must plan with ZERO exchanges, a diverged side must
  * fall back to the shuffled plan with identical answers, and an
  * over-cap index verification join must move only the CANDIDATE side
  * (shuffle-one-side storage-partitioned join) — never the table.
  */
class KvDiffSpjSpec extends graft.SparkSpec {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_diffspj_$name"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    d
  }

  private def cells(n: Int, tsBase: Long = 0L): DataFrame =
    spark.range(n.toLong).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family",
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS qualifier",
      "encode(CAST(id * 3 AS STRING), 'UTF-8') AS value",
      s"id + ${tsBase}L AS ts")

  private def exchanges(df: DataFrame): Int = {
    df.collect()
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
  }

  private def noBroadcast[T](body: => T): T = {
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "-1")
    try body finally spark.conf.set(k, prev)
  }

  test("table ⋈ clone diff: same certified layout, ZERO exchanges, empty diff") {
    val src = freshDir("clone_src")
    val dst = freshDir("clone_dst")
    cells(800).write.format("graft-kv").option("regions", 4)
      .mode("overwrite").save(src)
    KvSnapshot.create(spark, src, "forClone")
    KvSnapshot.cloneTo(spark, src, "forClone", dst)
    noBroadcast {
      val diff = graft.ops.SnapshotDiff.diffTables(spark, src, dst)
      exchanges(diff) shouldBe 0
      diff.count() shouldBe 0L
    }
  }

  test("snapshot vs unchanged current: co-located; diverged clone falls back, right answer") {
    val src = freshDir("snap_src")
    val dst = freshDir("snap_dst")
    cells(800).write.format("graft-kv").option("regions", 4)
      .mode("overwrite").save(src)
    KvSnapshot.create(spark, src, "pin")
    noBroadcast {
      // snapshot read vs the (unchanged) current version: same file set,
      // same layout — zero exchanges
      val same = graft.ops.SnapshotDiff.diffTables(spark, src, src,
        olderOptions = Map("snapshot" -> "pin"))
      exchanges(same) shouldBe 0
      same.count() shouldBe 0L

      // the clone DIVERGES: layouts now disagree (its appended file
      // overlaps), the diff must shuffle — and stay exactly right
      KvSnapshot.cloneTo(spark, src, "pin", dst)
      cells(20, tsBase = 100000L).write.format("graft-kv")
        .option("regions", 1).mode("append").save(dst)
      val diff = graft.ops.SnapshotDiff.diffTables(spark, src, dst)
      assert(exchanges(diff) > 0, "diverged layouts cannot co-locate")
      // ts moved for ids 0..19 but the VALUE is identical → not a change;
      // the diff is empty (LWW value comparison, not version comparison)
      diff.count() shouldBe 0L
      // a real value change surfaces
      Seq(("000003", "f", "b", "changed", 999999L))
        .toDF("rowKey", "family", "qualifier", "v", "ts")
        .selectExpr("rowKey", "family", "qualifier",
          "encode(v, 'UTF-8') AS value", "ts")
        .write.format("graft-kv").option("regions", 1).mode("append").save(dst)
      val diff2 = graft.ops.SnapshotDiff.diffTables(spark, src, dst)
        .as[(String, String, String, Array[Byte], Array[Byte])].collect()
      diff2.map(r => (r._1, r._2, r._3)).toSet shouldBe
        Set(("000003", "b", "update"))
    }
  }

  test("path-catalog SQL time travel: VERSION AS OF equals the option read") {
    val dir = freshDir("tt")
    cells(100).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(dir)
    cells(50, tsBase = 100000L).write.format("graft-kv")
      .option("regions", 1).mode("append").save(dir)
    KvRead.cells(spark, dir).count() shouldBe 150L // registers the catalog
    val viaSql = spark.sql(
      s"SELECT * FROM graft_path.p.`$dir` VERSION AS OF 0").count()
    viaSql shouldBe 100L
    viaSql shouldBe KvRead.cells(spark, dir, Map("asOfSeq" -> "0")).count()
  }

  test("over-cap verification join moves only the CANDIDATE side (one exchange)") {
    val dir = freshDir("lookup")
    spark.range(3000).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'amt' AS qualifier",
      "encode(CAST(id * 3 AS STRING), 'UTF-8') AS value", "id AS ts")
      .write.format("graft-kv").option("regions", 4)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "by_amt", "f", "amt", pad = 8)
    noBroadcast {
      // cap 1 forces the join verification path with 20 candidates
      val df = KvIndex.lookup(spark, dir, "by_amt", "600", "660",
        cap = 1)
      val got = df.as[(String, String)].collect().toSet
      got.size shouldBe 20 // 3i in [600, 660): i in [200, 220)
      val plan = df.queryExecution.executedPlan.toString
      val n = plan.linesIterator.count(_.contains("Exchange"))
      // ONE exchange: the candidate side shuffles TO the base's region
      // layout (spark.sql.sources.v2.bucketing.shuffle.enabled); the
      // certified base scan and the post-join LWW aggregate stay put
      assert(n == 1, s"expected 1 exchange (candidates only), got $n:\n$plan")
    }
  }
}
