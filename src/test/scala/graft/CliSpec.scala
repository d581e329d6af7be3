package graft

import java.nio.file.Files

/** The reference's README runbook (its de-facto e2e test, README.md:8-31),
  * replayed against graft.Cli end-to-end.
  */
class CliSpec extends SparkSpec {
  import spark.implicits._

  private val wh = Files.createTempDirectory("graft_wh").toString
  sys.props("graft.warehouse") = wh

  private def write(name: String, content: String): String = {
    val p = java.nio.file.Paths.get(wh, name)
    Files.writeString(p, content)
    p.toString
  }

  test("the full runbook: create -> populate -> export x4 -> read back") {
    Cli.run(spark, "CreateTable", Array("exportTest", "c", "5"))
    Cli.run(spark, "PopulateTable", Array("2", "300", "out", "exportTest", "c", "run1"))

    val cells = Cli.cells(spark, "exportTest")
    cells.count() shouldBe 3000 // 300 records x 10 qualifiers
    // one file per pre-split region (read-back splits may be file-packed)
    new java.io.File(s"$wh/exportTest/cells").listFiles()
      .count(_.getName.endsWith(".parquet")) shouldBe 5

    val txtSchema = write("txt.schema", "C0,C9,KEY")
    Cli.run(spark, "ExportHBaseTableToDelimiteredTxt",
      Array("exportTest", "c", s"$wh/export.text", "false", txtSchema, "|", "KEY"))
    val lines = spark.read.text(s"$wh/export.text").as[String].collect()
    lines.length shouldBe cells.select("rowKey").distinct().count()
    all(lines.map(_.split("\\|", -1).length)) shouldBe 5 // C0|C9|keyRoot|run|task

    Cli.run(spark, "ExportHBaseTableToDelimiteredSeq",
      Array("exportTest", "c", s"$wh/export.seq", "gzip", txtSchema, "|"))
    graft.sinks.Sinks.readSequenceFile(spark, s"$wh/export.seq").count() shouldBe lines.length

    val avroSchema = write("avro.schema",
      """{"type":"record","name":"T","fields":[
        |  {"name":"C1","type":["string","null"]},
        |  {"name":"KEY","type":["string","null"]}]}""".stripMargin)
    Cli.run(spark, "ExportHBaseTableToAvro",
      Array("exportTest", "c", s"$wh/export.avro", "snappy", avroSchema, "KEY"))
    Cli.run(spark, "ExportHBaseTableToParquet",
      Array("exportTest", "c", s"$wh/export.parquet", "snappy", avroSchema, "KEY"))
    spark.read.parquet(s"$wh/export.parquet").count() shouldBe lines.length

    // the inspection readers (K6) complete without error on their own output
    Cli.run(spark, "AvroReader", Array(s"$wh/export.avro", avroSchema, "5"))
    Cli.run(spark, "ParquetReader", Array(s"$wh/export.parquet", "5"))

    // the housekeeping pass over the populated table: 5 region files are
    // under the default threshold (parks), then a tightened threshold
    // compacts them; either way not one visible cell changes
    Cli.run(spark, "MaintainTable", Array("exportTest"))
    cells.count() shouldBe 3000
    Cli.run(spark, "MaintainTable", Array("exportTest", "2", "128", "24"))
    new java.io.File(s"$wh/exportTest/cells/_log").exists() shouldBe true
    Cli.cells(spark, "exportTest").count() shouldBe 3000
    Cli.run(spark, "HistoryTable", Array("exportTest")) // completes, prints log
    // the integrity verbs: a freshly maintained table checks healthy, and
    // an explicit no-op repair (nothing missing, no orphans) changes nothing
    Cli.run(spark, "CheckTable", Array("exportTest"))
    graft.sources.KvFsck.check(spark, s"$wh/exportTest/cells").healthy shouldBe true
    Cli.run(spark, "RepairTable", Array("exportTest", "forgetMissing"))
    Cli.cells(spark, "exportTest").count() shouldBe 3000
  }

  test("populate rejects a family mismatch against the table spec") {
    Cli.run(spark, "CreateTable", Array("t2", "f", "2"))
    val e = intercept[IllegalArgumentException] {
      Cli.run(spark, "PopulateTable", Array("1", "10", "o", "t2", "WRONG", "r"))
    }
    e.getMessage should include("family")
  }

  test("unknown command fails with usage") {
    val e = intercept[IllegalArgumentException] {
      Cli.run(spark, "Bogus", Array())
    }
    e.getMessage should include("usage")
  }

  test("DeleteRows / DeleteColumn tombstone by key: masked immediately, purged by CompactTable") {
    Cli.run(spark, "CreateTable", Array("delTest", "c", "2"))
    Cli.run(spark, "PopulateTable", Array("2", "100", "out", "delTest", "c", "runD"))
    val before = Cli.cells(spark, "delTest").count()
    val someKeys = Cli.cells(spark, "delTest").select("rowKey").distinct()
      .orderBy("rowKey").limit(2).collect().map(_.getString(0))
    Cli.run(spark, "DeleteRows", Array("delTest", someKeys.mkString(",")))
    val deletedCells = before - Cli.cells(spark, "delTest").count()
    assert(deletedCells > 0, "row deletes must mask cells")
    assert(Cli.cells(spark, "delTest")
      .filter(org.apache.spark.sql.functions.col("rowKey") === someKeys.head)
      .count() == 0)
    // column delete of one qualifier on a surviving key
    val survivor = Cli.cells(spark, "delTest").select("rowKey").distinct()
      .orderBy("rowKey").limit(1).collect().head.getString(0)
    Cli.run(spark, "DeleteColumn", Array("delTest", survivor, "c", "C3"))
    assert(Cli.cells(spark, "delTest")
      .filter(org.apache.spark.sql.functions.col("rowKey") === survivor &&
        org.apache.spark.sql.functions.col("qualifier") === "C3").count() == 0)
    // major compaction purges the markers; visible data unchanged
    val masked = Cli.cells(spark, "delTest").count()
    Cli.run(spark, "CompactTable", Array("delTest", "2"))
    assert(Cli.cells(spark, "delTest").count() == masked)
    assert(spark.read.format("graft-kv").option("readTombstones", "true")
      .load(s"$wh/delTest/cells")
      .filter(org.apache.spark.sql.functions.col("qualifier") < "\u0001")
      .count() == 0)
  }

  test("index runbook: CreateIndex -> VerifyIndex -> RefreshIndex -> ResaltTable -> DropIndex") {
    Cli.run(spark, "CreateTable", Array("idxTest", "c", "2"))
    Cli.run(spark, "PopulateTable", Array("2", "200", "out", "idxTest", "c", "runI"))
    Cli.run(spark, "CreateIndex", Array("idxTest", "by_c1", "c", "C1"))
    val path = s"$wh/idxTest/cells"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.KvIndex.list(fs,
      new org.apache.hadoop.fs.Path(path)).map(_.name) shouldBe Seq("by_c1")
    val s0 = graft.sources.KvIndex.scrutiny(spark, path, "by_c1")
    s0.missing shouldBe 0L

    // Append, refresh, verify again.
    Cli.run(spark, "PopulateTable", Array("1", "50", "out", "idxTest", "c", "runJ"))
    Cli.run(spark, "RefreshIndex", Array("idxTest", "by_c1"))
    graft.sources.KvIndex.scrutiny(spark, path, "by_c1").missing shouldBe 0L

    // ResaltTable converts the layout in place; the next refresh
    // rebuilds (declaration crossed) and lookups stay consistent.
    val before = Cli.cells(spark, "idxTest").count()
    Cli.run(spark, "ResaltTable", Array("idxTest", "4"))
    Cli.cells(spark, "idxTest").count() shouldBe before
    Cli.run(spark, "RefreshIndex", Array("idxTest", "by_c1"))
    graft.sources.KvIndex.scrutiny(spark, path, "by_c1").missing shouldBe 0L
    Cli.run(spark, "VerifyIndex", Array("idxTest", "by_c1"))
    Cli.run(spark, "ListIndexes", Array("idxTest"))
    Cli.run(spark, "DropIndex", Array("idxTest", "by_c1"))
    graft.sources.KvIndex.list(fs,
      new org.apache.hadoop.fs.Path(path)) shouldBe Seq.empty
  }

  test("RunQuery runs any registered operator; unknown names list the registry") {
    // smoke an extension operator end-to-end through the CLI dispatch
    Cli.run(spark, "RunQuery", Array("txt_repetition", sfDir, "3"))
    val e = intercept[IllegalArgumentException] {
      Cli.run(spark, "RunQuery", Array("nope", sfDir, "3"))
    }
    e.getMessage should include("dedup_exact") // the listing names the registry
  }

  test("the Cli session carries the same SQL conf as Verify's") {
    // create() builds a fresh session on the shared context without
    // replacing the suite's session; only session-level conf differs.
    def sqlConf(b: org.apache.spark.sql.SparkSession.Builder) =
      try b.create().conf.getAll.filter(_._1.startsWith("spark.sql."))
      finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val cli = sqlConf(Cli.sessionBuilder("CreateTable"))
    cli shouldBe sqlConf(Verify.sessionBuilder)
    cli.get("spark.sql.session.timeZone") shouldBe Some("UTC")
    cli.get("spark.sql.sources.v2.bucketing.shuffle.enabled") shouldBe
      Some("true")
  }
}
