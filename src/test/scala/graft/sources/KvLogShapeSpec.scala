package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** The on-disk SHAPE CONTRACT of the manifest log and snapshot manifests:
  * every compact entry any writer publishes carries its pending-removal
  * set (`pend`), every retention-drop entry (`drop`) references its drop
  * files, and every snapshot manifest records its table config (`cfg`).
  * A header missing any of these is not a shape this engine writes, and
  * the parsers refuse it with an error naming the file.
  */
class KvLogShapeSpec extends graft.SparkSpec {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_shape_$name"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    d
  }

  private def fsOf(p: String): FileSystem =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def entryFile(table: String, seq: Long) =
    new Path(s"$table/_log", f"$seq%020d")

  private def headerOf(fs: FileSystem, p: Path): Set[String] =
    KvLog.readText(fs, p).linesIterator.next().split(" ").toSet

  /** Two versions per key, so `maxVersions = 1` drops the older one. */
  private def twoVersions(n: Int): DataFrame =
    spark.range(n.toLong).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey", "'f' AS family",
      "'q' AS qualifier", "encode(CAST(id AS STRING), 'UTF-8') AS value",
      "id AS ts").unionByName(spark.range(n.toLong).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey", "'f' AS family",
      "'q' AS qualifier", "encode(CAST(id + 1 AS STRING), 'UTF-8') AS value",
      "id + 100000L AS ts"))

  /** Every compact entry of `table` has `pend`, and drop files wherever
    * `drop` is set; returns the number of compact entries checked.
    */
  private def assertCompactShapes(table: String): Int = {
    val fs = fsOf(table)
    val t = new Path(table)
    val compacts = (KvLog.earliestSeq(fs, t) to KvLog.latestSeq(fs, t))
      .flatMap(seq => KvLog.read(fs, t, seq)).filter(_.compact)
    compacts.foreach { e =>
      val header = headerOf(fs, entryFile(table, e.seq))
      withClue(s"entry ${e.seq} of $table: ") {
        header should contain("pend")
        if (header.contains("drop")) e.dropFiles should not be empty
        e.contentDrop shouldBe header.contains("drop")
      }
    }
    compacts.size
  }

  test("every compact writer publishes pend, drop files with drop, and snapshots record cfg") {
    // plain compaction
    val plain = freshDir("plain")
    (0 until 2).foreach { i =>
      twoVersions(40).filter($"ts" % 2 === i).write.format("graft-kv")
        .option("regions", 2).mode("append").save(plain)
    }
    KvCompactor.compact(spark, plain, regions = 1) shouldBe
      a[KvCompactor.Compacted]
    assertCompactShapes(plain) shouldBe 1

    // retention compaction that drops cells
    val retained = freshDir("retention")
    twoVersions(40).write.format("graft-kv").option("regions", 2)
      .mode("overwrite").save(retained)
    val r = KvCompactor.compact(spark, retained, regions = 1,
      cellPolicy = KvCompactor.CellPolicy(maxVersions = Some(1)))
    r.asInstanceOf[KvCompactor.Compacted].dropped shouldBe 40L
    val rfs = fsOf(retained)
    val rseq = KvLog.latestSeq(rfs, new Path(retained))
    headerOf(rfs, entryFile(retained, rseq)) should contain("drop")
    assertCompactShapes(retained) shouldBe 1

    // snapshot create (cfg), clone and restore
    val snapped = freshDir("snapshot")
    twoVersions(20).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(snapped)
    KvSnapshot.create(spark, snapped, "s0")
    val sfs = fsOf(snapped)
    headerOf(sfs, new Path(s"$snapped/${KvSnapshot.DirName}", "s0")) should
      contain("cfg")
    twoVersions(20).write.format("graft-kv").option("regions", 1)
      .mode("append").save(snapped)
    KvSnapshot.restore(spark, snapped, "s0")
    assertCompactShapes(snapped) shouldBe 1
    val cloned = freshDir("clone")
    KvSnapshot.cloneTo(spark, snapped, "s0", cloned)
    assertCompactShapes(cloned) shouldBe 1

    // resalt
    val resalted = freshDir("resalt")
    twoVersions(20).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(resalted)
    KvResalt.resalt(spark, resalted, Some(4)) shouldBe a[KvResalt.Resalted]
    assertCompactShapes(resalted) shouldBe 1

    // the seed of a log-less external directory
    val seeded = freshDir("seed")
    twoVersions(20).write.parquet(seeded)
    val efs = fsOf(seeded)
    KvLog.seedFromDirIfNeeded(efs, new Path(seeded)) shouldBe true
    assertCompactShapes(seeded) shouldBe 1
  }

  test("append refuses pending removals on an append entry and a drop entry without drop files") {
    val d = freshDir("append_refusals")
    twoVersions(10).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(d)
    val fs = fsOf(d)
    val t = new Path(d)
    val latest = KvLog.latestSeq(fs, t)
    intercept[IllegalArgumentException] {
      KvLog.append(fs, t, adds = Nil, carriedRemovals = Map("x.parquet" -> 1L))
    }.getMessage should include("pending removals")
    intercept[IllegalArgumentException] {
      KvLog.append(fs, t, adds = Nil, compact = true, contentDrop = true)
    }.getMessage should include("drop files")
    intercept[IllegalArgumentException] {
      KvLog.append(fs, t, adds = Nil, contentDrop = true,
        dropFiles = Seq("drops-x.parquet"))
    }.getMessage should include("compact")
    KvLog.latestSeq(fs, t) shouldBe latest // nothing published
  }

  test("the log parser refuses a compact header without pend and a drop header without drop files") {
    val d = freshDir("read_refusals")
    val fs = fsOf(d)
    val t = new Path(d)
    KvLog.ensureLogDir(fs, t)
    KvLog.writeText(fs, entryFile(d, 0), "v1 compact\n+part-00000.parquet\n")
    val noPend = intercept[IllegalStateException](KvLog.read(fs, t, 0))
    noPend.getMessage should include(entryFile(d, 0).getName)
    noPend.getMessage should include("pend")
    KvLog.writeText(fs, entryFile(d, 0),
      "v1 compact pend drop\n+part-00000.parquet\n")
    val noDrops = intercept[IllegalStateException](KvLog.read(fs, t, 0))
    noDrops.getMessage should include(entryFile(d, 0).getName)
    noDrops.getMessage should include("without drop files")
    // the shapes the engine writes still parse
    KvLog.writeText(fs, entryFile(d, 0),
      "v1 compact pend drop\n+part-00000.parquet\n!drops-0.parquet\n")
    KvLog.read(fs, t, 0).map(_.dropFiles) shouldBe Some(Seq("drops-0.parquet"))
  }

  test("the snapshot parser refuses a manifest header without cfg") {
    val d = freshDir("snap_refusal")
    twoVersions(10).write.format("graft-kv").option("regions", 1)
      .mode("overwrite").save(d)
    val fs = fsOf(d)
    val t = new Path(d)
    val manifest = new Path(s"$d/${KvSnapshot.DirName}", "nocfg")
    KvLog.writeText(fs, manifest,
      s"v1 snapshot seq=0 at=0\n+${KvLog.liveFiles(fs, t).head}\n")
    val e = intercept[IllegalStateException](KvSnapshot.get(fs, t, "nocfg"))
    e.getMessage should include(manifest.getName)
    e.getMessage should include("cfg")
    KvSnapshot.create(spark, d, "withcfg")
    KvSnapshot.get(fs, t, "withcfg").map(_.name) shouldBe Some("withcfg")
  }
}
