package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RETENTION × INDEX interplay: a `versions`/`ttl_ms` maintenance pass
  * physically drops cells a covered index may still describe. The
  * verified-lookup path is immune by construction (staleness = false
  * candidates), and the covered INDEX-ONLY path is protected by the
  * freshness check — a retention rewrite is a manifest COMMIT, so it
  * bumps the base's latest seq past the index's covered seq and every
  * covered lookup falls back to verification until a refresh absorbs the
  * new state. These specs PIN that guarantee end to end, including the
  * vacuum-grace edge (reclaiming the merged-away segments right away
  * neither breaks the stale lookup nor the recovery refresh).
  */
class KvIndexRetentionSpec extends graft.SparkSpec {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_idxret_$name"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    d
  }

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** Two versions per key: v1 = 3i at ts=i, v2 = 3i+1 at ts=i+100000 —
    * so maxVersions=1 keeps v2 and ttl (dropBelowTs=100000) kills v1,
    * plus a `tag` include column.
    */
  private def twoVersions(n: Int): DataFrame = {
    val v1 = spark.range(n.toLong).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'amt' AS qualifier",
      "encode(CAST(id * 3 AS STRING), 'UTF-8') AS value", "id AS ts")
    val v2 = spark.range(n.toLong).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'amt' AS qualifier",
      "encode(CAST(id * 3 + 1 AS STRING), 'UTF-8') AS value",
      "id + 100000L AS ts")
    val tag = spark.range(n.toLong).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'tag' AS qualifier",
      "encode(concat('t', CAST(id AS STRING)), 'UTF-8') AS value",
      "id + 100000L AS ts")
    v1.unionByName(v2).unionByName(tag)
  }

  private def truth(dir: String, lo: Long, hi: Long)
      : Set[(String, String, Option[String])] = {
    def lww(q: String) = spark.read.format("graft-kv").load(dir)
      .filter(col("family") === "f" && col("qualifier") === q)
      .groupBy("rowKey")
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(col("value"), col("ts")),
        "UTF-8").as("v"))
    lww("amt").filter(col("v").cast("long") >= lo && col("v").cast("long") < hi)
      .join(lww("tag").withColumnRenamed("v", "t"), Seq("rowKey"), "left")
      .as[(String, String, Option[String])].collect().toSet
  }

  private def covered(dir: String, lo: Long, hi: Long)
      : Set[(String, String, Option[String])] =
    KvIndex.lookupCovered(spark, dir, "cov", lo.toString, hi.toString)
      .as[(String, String, Option[String])].collect().toSet

  test("a retention rewrite bumps the seq: covered lookups verify until refresh") {
    val dir = freshDir("versions")
    twoVersions(500).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "cov", "f", "amt", pad = 8,
      include = Seq("tag"))
    val fs = fsOf(dir)
    val table = new Path(dir)
    val asOf = KvIndex.meta(fs, table, "cov").get.asOfSeq
    // fresh: covered seq == latest
    KvLog.latestSeq(fs, table) shouldBe asOf

    // VERSIONS retention: a major pass keeps only the newest version —
    // the physical drop the index has not seen
    val res = KvCompactor.compact(spark, dir, regions = 2,
      cellPolicy = KvCompactor.CellPolicy(maxVersions = Some(1)))
    res shouldBe a[KvCompactor.Compacted]

    // THE GUARANTEE: the rewrite is a manifest commit, so the base moved
    // past the covered seq — the index-only fast path is unreachable and
    // the covered lookup verifies against the current table
    assert(KvLog.latestSeq(fs, table) > asOf,
      "a retention rewrite must bump the manifest seq")
    covered(dir, 600, 660) shouldBe truth(dir, 600, 660)
    covered(dir, 600, 660).size shouldBe 20 // 3i+1 in [600,660): 20 keys

    // refresh stays INCREMENTAL (r17) — the retention entry carries its
    // drop records, the feed ships them as exact-version markers, and
    // the touched keys' post-image at `latest` reflects the drops; a
    // full rebuild across every retention pass would be O(table) on
    // exactly the passes a declared-policy maintenance loop runs
    // continuously
    val r = KvIndex.refresh(spark, dir, "cov")
    r shouldBe a[KvIndex.Refreshed]
    KvIndex.meta(fs, table, "cov").get.asOfSeq shouldBe
      KvLog.latestSeq(fs, table)
    covered(dir, 600, 660) shouldBe truth(dir, 600, 660)
    val s = KvIndex.scrutiny(spark, dir, "cov")
    s.missing shouldBe 0L
    s.stale shouldBe 0L
  }

  test("TTL drop that ERASES keys: stale entries die in verification; vacuum(0) is safe") {
    val dir = freshDir("ttl")
    // keys 0..499: v1-only for odd keys BELOW the cutoff (they vanish
    // under TTL), two versions for even keys (they survive as v2)
    val v1 = spark.range(500).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'amt' AS qualifier",
      "encode(CAST(id * 3 AS STRING), 'UTF-8') AS value", "id AS ts")
    val v2 = spark.range(500).filter("id % 2 = 0").selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey",
      "'f' AS family", "'amt' AS qualifier",
      "encode(CAST(id * 3 + 1 AS STRING), 'UTF-8') AS value",
      "id + 100000L AS ts")
    v1.unionByName(v2).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "cov", "f", "amt", pad = 8,
      covered = true)
    // TTL: every ts < 100000 dies — odd keys lose their ONLY version
    val cres = KvCompactor.compact(spark, dir, regions = 2,
      cellPolicy = KvCompactor.CellPolicy(dropBelowTs = Some(100000L)))
    cres shouldBe a[KvCompactor.Compacted]
    // reclaim the merged-away segments IMMEDIATELY (grace 0) — the edge:
    // the stale covered lookup must not depend on the dead files
    KvVacuum.vacuum(spark, dir, graceMs = 0L)

    // [600, 666): pre-TTL both 3i (odd i 200..221) and 3i+1 (even)
    // qualified; post-TTL only even keys' v2 values remain. The index
    // still holds every pre-TTL entry — verification must drop the dead.
    val got = KvIndex.lookupCovered(spark, dir, "cov", "600", "666")
      .as[(String, String)].collect().toSet
    got shouldBe spark.read.format("graft-kv").load(dir)
      .filter(col("family") === "f" && col("qualifier") === "amt")
      .groupBy("rowKey")
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(col("value"), col("ts")),
        "UTF-8").as("value"))
      .filter(col("value").cast("long") >= 600 &&
        col("value").cast("long") < 666)
      .as[(String, String)].collect().toSet
    got.map(_._1).foreach { k =>
      assert(k.toInt % 2 == 0, s"TTL-erased key $k returned by the lookup")
    }

    // recovery refresh: the span crosses the retention pass AND
    // vacuum(0) already reclaimed the pre-image files the incremental
    // diff would time-travel to — the pre-image survival probe detects
    // it and falls back to a REBUILD from the current live set, then
    // the INDEX-ONLY fast path must exclude the erased keys too
    val r = KvIndex.refresh(spark, dir, "cov")
    r shouldBe a[KvIndex.Rebuilt]
    val s = KvIndex.scrutiny(spark, dir, "cov")
    s.missing shouldBe 0L
    s.stale shouldBe 0L
    val fs = fsOf(dir)
    KvIndex.meta(fs, new Path(dir), "cov").get.asOfSeq shouldBe
      KvLog.latestSeq(fs, new Path(dir))
    val fresh = KvIndex.lookupCovered(spark, dir, "cov", "600", "666")
      .as[(String, String)].collect().toSet
    fresh shouldBe got
    fresh.map(_._1).foreach { k =>
      assert(k.toInt % 2 == 0,
        s"index-only read served TTL-erased key $k after refresh")
    }
  }

  test("explicit major with a policy rewrites even a compacted/single-segment table") {
    val dir = freshDir("forced")
    twoVersions(200).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    // first major: plain merge — afterwards the table is one compaction's
    // outputs and a plain re-run must PARK (idempotence intact)
    val c1 = KvCompactor.compact(spark, dir, regions = 1)
    c1 shouldBe a[KvCompactor.Compacted]
    KvCompactor.compact(spark, dir, regions = 1) shouldBe
      a[KvCompactor.Parked]
    // ...but "enforce retention NOW" (the HBase force-major shape) must
    // not silently no-op on the compacted single segment
    val c2 = KvCompactor.compact(spark, dir, regions = 1,
      cellPolicy = KvCompactor.CellPolicy(maxVersions = Some(1)))
    c2 shouldBe a[KvCompactor.Compacted]
    val vals = spark.read.format("graft-kv").load(dir)
      .filter(col("qualifier") === "amt")
      .groupBy("rowKey").count().select("count").distinct()
      .as[Long].collect().toSet
    vals shouldBe Set(1L) // exactly one surviving version per key
  }

  test("a streaming tail crossing a retention compaction ships the drop records") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = freshDir("tail")
    twoVersions(100).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    val ckpt = freshDir("tail_ckpt")
    val out = freshDir("tail_out")
    // consume the initial state, checkpointed (file sink: append-mode
    // checkpoint recovery, which the memory sink refuses)
    def run(name: String): Unit = {
      val q = spark.readStream.format("graft-kv").load(dir)
        .writeStream.format("parquet").option("path", out)
        .queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run("ret_tail_1")
    // retention pass lands AHEAD of the consumed position
    val cres = KvCompactor.compact(spark, dir, regions = 1,
      cellPolicy = KvCompactor.CellPolicy(maxVersions = Some(1)))
    cres shouldBe a[KvCompactor.Compacted]
    // the resumed tail CROSSES the drop entry (r17): it delivers the
    // entry's drop-record files — exact-version delete markers the
    // consumer absorbs like any replicated marker (the WAL/replication
    // contract: deletes must replicate) — instead of refusing
    run("ret_tail_2")
    val consumed = spark.read.parquet(out)
    consumed.filter(col("qualifier")
      .startsWith(KvDelete.VersionMarkerPrefix)).count() shouldBe 100L
    // applying the shipped markers to everything consumed reconstructs
    // the post-retention state exactly
    val reconstructed = KvDelete.applyVersionMarkers(consumed)
      .select("rowKey", "family", "qualifier", "value", "ts")
      .as[(String, String, String, Array[Byte], Long)].collect()
      .map(r => (r._1, r._2, r._3, new String(r._4, "UTF-8"), r._5)).toSet
    val current = spark.read.format("graft-kv").load(dir)
      .select("rowKey", "family", "qualifier", "value", "ts")
      .as[(String, String, String, Array[Byte], Long)].collect()
      .map(r => (r._1, r._2, r._3, new String(r._4, "UTF-8"), r._5)).toSet
    reconstructed shouldBe current
    // a FRESH stream starts at the horizon: the drop entry's adds ARE
    // its baseline — delivered, post-retention state only, NO markers
    val q3 = spark.readStream.format("graft-kv").load(dir)
      .writeStream.format("memory").queryName("ret_tail_3")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination()
    spark.table("ret_tail_3").filter(col("qualifier")
      .startsWith(KvDelete.MarkerPrefix)).count() shouldBe 0L
    val rows = spark.table("ret_tail_3")
      .filter(col("qualifier") === "amt")
      .groupBy("rowKey").count().select("count").distinct()
      .as[Long].collect().toSet
    rows shouldBe Set(1L) // only the retained newest version per key
  }

  test("a CDC read crossing a retention compaction ships the drops; opaque legacy entries still refuse") {
    val dir = freshDir("cdc")
    twoVersions(100).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir)
    val cres = KvCompactor.compact(spark, dir, regions = 1,
      cellPolicy = KvCompactor.CellPolicy(maxVersions = Some(1)))
    cres shouldBe a[KvCompactor.Compacted]
    cres.asInstanceOf[KvCompactor.Compacted].dropped shouldBe 100L
    // the span over the pass serves: its content is the 100 dropped v1
    // cells, shipped as exact-version delete markers
    val feed = spark.read.format("graft-kv").option("sinceSeq", "0").load(dir)
    feed.count() shouldBe 100L
    feed.filter(col("qualifier")
      .startsWith(KvDelete.VersionMarkerPrefix)).count() shouldBe 100L
    // baseline at the span start + the feed reconstructs the current
    // state exactly — the CDC contract across a retention pass
    val baseline = spark.read.format("graft-kv")
      .option("asOfSeq", "0").load(dir)
    KvDelete.applyVersionMarkers(baseline.unionByName(feed))
      .count() shouldBe spark.read.format("graft-kv").load(dir).count()
    // a plain (no-policy) merge stays CDC-transparent: same span, no error
    val dir2 = freshDir("cdc_plain")
    twoVersions(100).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(dir2)
    val c2 = KvCompactor.compact(spark, dir2, regions = 1)
    c2 shouldBe a[KvCompactor.Compacted]
    c2.asInstanceOf[KvCompactor.Compacted].dropped shouldBe 0L
    spark.read.format("graft-kv").option("sinceSeq", "0").load(dir2)
      .count() shouldBe 0L // the merge re-publishes, it does not change
    // an OPAQUE drop entry (flag, no drop files) cannot be published:
    // the change would be real and unrecorded
    val dir3 = freshDir("cdc_opaque")
    twoVersions(50).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(dir3)
    val fs3 = fsOf(dir3)
    val t3 = new Path(dir3)
    val refused = intercept[IllegalArgumentException] {
      KvLog.append(fs3, t3, adds = Nil, removes = Nil,
        compact = true, contentDrop = true)
    }
    refused.getMessage should include("drop files")
    KvLog.latestSeq(fs3, t3) shouldBe 0L
    // ...and one written by hand is refused on read, so the CDC span
    // over it fails instead of silently skipping the drops
    KvLog.writeText(fs3, new Path(s"$dir3/_log", f"${1L}%020d"),
      "v1 compact pend drop\n")
    val e = intercept[Exception] {
      spark.read.format("graft-kv").option("sinceSeq", "0").load(dir3).count()
    }
    e.getMessage should include("retention-drop entry without drop files")
  }
}
