package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kv.{KvGenerator, RangeLayout}
import graft.schema.SchemaFile
import graft.sinks.{AvroIO, Sinks}

/** The reference's CLI surface (App.java:14-30 dispatch; README runbook),
  * restated over a file-backed KV warehouse — a user of the reference can run
  * the same eight subcommands with the same positional arguments.
  *
  * The "HBase table" is modeled (SURVEY §7.1: no cluster in either env's
  * scope for us) as `<warehouse>/<table>/` holding
  *  - `_spec.csv`  — `family,regionCount` (CreateTable's DDL),
  *  - `cells/`     — parquet cells range-partitioned by rowKey and sorted
  *                   within partitions (the pre-split region + HFile
  *                   invariant, CreateTable.java:61-74, PopulateTable.java:68).
  *
  * Commands (positional args exactly as the reference reads them):
  *  - `CreateTable <table> <family> <regionCount>`            (CreateTable.java:24-26)
  *  - `PopulateTable <mappers> <records> <out> <table> <family> <runId>` (PopulateTable.java:40-45)
  *  - `ExportHBaseTableToDelimiteredTxt <table> <cf> <out> <compress> <schema> <delim> [rowKeyCol]` (Txt:44-53)
  *  - `ExportHBaseTableToDelimiteredSeq` — same as Txt                  (Seq:46-55)
  *  - `ExportHBaseTableToAvro <table> <cf> <out> <codec> <schema> [rowKeyCol]` (Avro:57-65)
  *  - `ExportHBaseTableToParquet` — same as Avro                        (Parquet:54-62)
  *  - `AvroReader <file> <schemaFile> <n>`                              (AvroReader.java:21-23)
  *  - `ParquetReader <file> <n>`                                        (ParquetReader.java:13-14)
  */
object Cli {

  def warehouse: String =
    sys.props.getOrElse("graft.warehouse",
      sys.env.getOrElse("GRAFT_WAREHOUSE", "graft_warehouse"))

  private def tableDir(name: String) = s"$warehouse/$name"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val spark = sessionBuilder(args.head).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.head, args.tail)
    finally spark.stop()
  }

  private[graft] def sessionBuilder(command: String): SparkSession.Builder =
    GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .withExtensions(new GraftExtensions) // SQL surface for graft functions
      .appName(s"graft-$command")

  private val arity = Map(
    "CreateTable" -> 3, "PopulateTable" -> 6,
    "ExportHBaseTableToDelimiteredTxt" -> 6, "ExportHBaseTableToDelimiteredSeq" -> 6,
    "ExportHBaseTableToAvro" -> 5, "ExportHBaseTableToParquet" -> 5,
    "AvroReader" -> 3, "ParquetReader" -> 2, "RunQuery" -> 3,
    "CompactTable" -> 2, "VacuumTable" -> 1, "MaintainTable" -> 1,
    "ResaltTable" -> 2,
    "CreateIndex" -> 4, "RefreshIndex" -> 2, "DropIndex" -> 2,
    "ListIndexes" -> 1, "VerifyIndex" -> 2,
    "HistoryTable" -> 1, "CheckTable" -> 1, "RepairTable" -> 2,
    "DropTail" -> 2,
    "SnapshotTable" -> 2, "RestoreSnapshot" -> 2,
    "DropSnapshot" -> 2, "ListSnapshots" -> 1, "CloneSnapshot" -> 3,
    "DeleteRows" -> 2, "DeleteColumn" -> 4)

  /** Dispatch, separated from session lifecycle for tests. */
  def run(spark: SparkSession, command: String, a: Array[String]): Unit = {
    arity.get(command).foreach { n =>
      require(a.length >= n,
        s"$command needs $n arguments, got ${a.length}\n$usage")
    }
    dispatch(spark, command, a)
  }

  private def dispatch(spark: SparkSession, command: String, a: Array[String]): Unit = command match {
    case "CreateTable" =>
      val Array(table, family, regionCount) = a.take(3)
      writeSpec(spark, table, family, regionCount.toInt)
      println(s"created $table (family=$family, regions=$regionCount, " +
        s"splits=${RangeLayout.splitPoints(regionCount.toInt).mkString(",")})")

    case "PopulateTable" =>
      val Array(mappers, records, _outputPath, table, family, runId) = a.take(6)
      val (specFamily, regions) = readSpec(spark, table)
      require(specFamily == family, s"table $table has family '$specFamily', not '$family'")
      val cells = KvGenerator.cells(spark, records.toLong, mappers.toInt, runId, family)
      // The graft-kv SINK demands the bulk-load invariant itself
      // (RequiresDistributionAndOrdering: range partition on rowKey into
      // `regions`, sorted by (rowKey, qualifier) within) — the
      // TotalOrderPartitioner + sorting reducer of PopulateTable.java:68,
      // owned by the connector instead of trusted to this call site.
      cells.write.format("graft-kv").option("regions", regions)
        .mode("overwrite").save(s"${tableDir(table)}/cells")
      println(s"populated $table with ${records.toLong * 10} cells across $regions regions")

    case "ExportHBaseTableToDelimiteredTxt" | "ExportHBaseTableToDelimiteredSeq" =>
      val Array(table, cf, out, compress, schemaPath, delim) = a.take(6)
      val rowKeyCol = a.lift(6)
      val fmt = if (command.endsWith("Txt")) Export.DelimitedTxt else Export.DelimitedSeq
      val codec =
        if (compress == "true" || compress == "gzip") Some("gzip")
        else if (compress == "snappy") Some("snappy")
        else if (compress == "default") Some("default")
        else None
      Sinks.deleteRecursive(spark, out)
      Export.run(cells(spark, table), Export.Config(fmt,
        SchemaFile.readFile(spark, schemaPath), out, Some(cf), delim, rowKeyCol, codec))

    case "ExportHBaseTableToAvro" | "ExportHBaseTableToParquet" =>
      val Array(table, cf, out, codecArg, schemaPath) = a.take(5)
      val rowKeyCol = a.lift(5)
      val fmt = if (command.endsWith("Avro")) Export.Avro else Export.Parquet
      val codec = Some(codecArg).filter(c => c != "none" && c != "false")
      Sinks.deleteRecursive(spark, out)
      Export.run(cells(spark, table), Export.Config(fmt,
        SchemaFile.readFile(spark, schemaPath), out, Some(cf),
        rowKeyColumn = rowKeyCol, compression = codec))

    case "AvroReader" =>
      val Array(file, schemaPath, n) = a.take(3)
      val schema = SchemaFile.parseAvroJson(SchemaFile.readFile(spark, schemaPath))
      Sinks.console(AvroIO.read(spark, file, schema).limit(n.toInt), n.toInt)

    case "ParquetReader" =>
      val Array(file, n) = a.take(2)
      Sinks.console(spark.read.parquet(file).limit(n.toInt), n.toInt)

    // Beyond the reference's eight: run ANY registered operator query over a
    // test-data scale dir and dump the first n rows — the whole §7.6
    // extension surface from one spark-submit entry point.
    case "RunQuery" =>
      val Array(name, sfDir, n) = a.take(3)
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(
          s"unknown query '$name'; available:\n  " +
            SparkEntry.queries.keys.toSeq.sorted.mkString("\n  ")))
      Sinks.console(fn(spark, sfDir).limit(n.toInt), n.toInt)

    // Beyond the reference's eight: MAJOR COMPACTION of a warehouse table —
    // the HBase compaction cycle its region sizing implies (CreateTable
    // .java:28's 100 GB ConstantSizeRegionSplitPolicy). Merges the table's
    // accumulated segments into `regions` range-sorted files and advances
    // the manifest horizon; parks if a registered tail still needs the old
    // segments (the WAL-cleanup/replication-peer contract).
    case "CompactTable" =>
      val Array(table, regions) = a.take(2)
      graft.sources.KvCompactor.compact(
          spark, s"${tableDir(table)}/cells", regions.toInt,
          codec = a.lift(2)) match {
        case graft.sources.KvCompactor.Compacted(seq, merged, into, dropped) =>
          println(s"compacted $table: $merged segments -> $into at log seq " +
            s"$seq${if (dropped > 0) s" ($dropped cells dropped by retention)" else ""}")
        case graft.sources.KvCompactor.Parked(reason) =>
          println(s"compaction parked for $table: $reason")
        case graft.sources.KvCompactor.Aborted(reason) =>
          println(s"compaction aborted for $table: $reason")
      }

    // In-place salt-layout conversion (0 buckets = unsalt) — the rewrite
    // HBase/Phoenix require a new table for, as one online operation.
    case "ResaltTable" =>
      val Array(table, buckets) = a.take(2)
      val to = if (buckets.toInt == 0) None else Some(buckets.toInt)
      graft.sources.KvResalt.resalt(
          spark, s"${tableDir(table)}/cells", to,
          regions = a.lift(2).map(_.toInt)) match {
        case graft.sources.KvResalt.Resalted(seq, from, t, files) =>
          def show(n: Option[Int]) = n.fold("unsalted")(b => s"$b buckets")
          println(s"resalted $table: ${show(from)} -> ${show(t)}, " +
            s"$files files at log seq $seq")
        case graft.sources.KvResalt.Parked(reason) =>
          println(s"resalt parked for $table: $reason")
        case graft.sources.KvResalt.Aborted(reason) =>
          println(s"resalt aborted for $table: $reason")
      }

    // Maintained global secondary indexes ([[graft.sources.KvIndex]]):
    // the Phoenix global-index cycle as CLI verbs.
    case "CreateIndex" =>
      val Array(table, name, family, qualifier) = a.take(4)
      // Optional trailing args mirror sys.create_index:
      //   include=q1,q2       covered payload qualifiers
      //   composite=q:pad,... additional key components
      def listArg(key: String): Seq[String] = a.drop(4).collectFirst {
        case s if s.startsWith(s"$key=") => s.stripPrefix(s"$key=")
      }.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val rest = listArg("composite").map { pair =>
        pair.split(":") match {
          case Array(q, p) => (q, p.toInt)
          case Array(q) => (q, 0)
          case _ => sys.error(s"composite component '$pair' is not qual[:pad]")
        }
      }
      val positional = a.drop(4).filterNot(_.contains("="))
      val m = graft.sources.KvIndex.create(
        spark, s"${tableDir(table)}/cells", name, family, qualifier,
        pad = positional.lift(0).map(_.toInt).getOrElse(0),
        regions = positional.lift(1).map(_.toInt).getOrElse(4),
        include = listArg("include"), rest = rest)
      println(s"created index $name on " +
        s"$table($family:${m.keyQuals.mkString(",")})" +
        (if (m.covered) " covered" else "") +
        s", covers log seq ${m.asOfSeq}")

    case "RefreshIndex" =>
      val Array(table, name) = a.take(2)
      graft.sources.KvIndex.refresh(
          spark, s"${tableDir(table)}/cells", name) match {
        case graft.sources.KvIndex.Refreshed(from, to) =>
          println(s"refreshed index $name on $table: seq $from -> $to")
        case graft.sources.KvIndex.Fresh(seq) =>
          println(s"index $name on $table already fresh at seq $seq")
        case graft.sources.KvIndex.Rebuilt(to) =>
          println(s"rebuilt index $name on $table at seq $to " +
            "(span crossed a salt-layout change)")
      }

    case "DropIndex" =>
      val Array(table, name) = a.take(2)
      val dropped = graft.sources.KvIndex.drop(
        spark, s"${tableDir(table)}/cells", name)
      println(if (dropped) s"dropped index $name on $table"
        else s"no index $name on $table")

    case "VerifyIndex" =>
      val Array(table, name) = a.take(2)
      val s = graft.sources.KvIndex.scrutiny(
        spark, s"${tableDir(table)}/cells", name)
      println(s"index $name on $table at seq ${s.coveredSeq}: " +
        s"${s.current} current rows, ${s.missing} missing, " +
        s"${s.stale} stale" +
        (if (s.missing == 0) " (consistent)"
         else " — INCONSISTENT, rebuild (DropIndex + CreateIndex)"))

    case "ListIndexes" =>
      val table = a(0)
      val dir = new org.apache.hadoop.fs.Path(s"${tableDir(table)}/cells")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val ms = graft.sources.KvIndex.list(fs, dir)
      if (ms.isEmpty) println(s"no indexes on $table")
      ms.foreach(m => println(
        s"${m.name}: ${m.family}:${m.keyQuals.mkString(",")} " +
          s"pad=${m.pads.mkString(",")} asOf=${m.asOfSeq}"))

    // GC of manifest-unreferenced files (crash leftovers) after a grace
    // period — the Delta VACUUM / HBase HFile-cleaner analog.
    case "VacuumTable" =>
      val table = a(0)
      val graceHours = a.lift(1).map(_.toLong).getOrElse(24L)
      graft.sources.KvVacuum.vacuum(
          spark, s"${tableDir(table)}/cells", graceHours * 3600 * 1000) match {
        case v: graft.sources.KvVacuum.Vacuumed =>
          val held = if (v.anchorHeldFiles == 0) ""
            else s"; snapshot anchor holding ${v.anchorHeldFiles} files " +
              s"(${v.anchorHeldBytes} bytes) — delete the snapshot to release"
          println(s"vacuumed $table: ${v.deletedFiles} stray files " +
            s"(${v.deletedBytes} bytes), ${v.scratchDirs} scratch dirs$held")
        case graft.sources.KvVacuum.Skipped(reason) =>
          println(s"vacuum skipped for $table: $reason")
      }

    // The scheduled housekeeping pass: compact past a segment-count
    // threshold (output regions sized by bytes, the
    // ConstantSizeRegionSplitPolicy analog of CreateTable.java:28), then
    // vacuum expired garbage — idempotent, parks on a healthy table.
    case "MaintainTable" =>
      val table = a(0)
      val policy = graft.sources.KvMaintenance.Policy(
        maxSegments = a.lift(1).map(_.toInt).getOrElse(8),
        targetRegionBytes =
          a.lift(2).map(_.toLong * 1024 * 1024).getOrElse(128L * 1024 * 1024),
        vacuumGraceMs =
          a.lift(3).map(_.toLong * 3600 * 1000).getOrElse(24L * 3600 * 1000))
      val r = graft.sources.KvMaintenance.maintain(
        spark, s"${tableDir(table)}/cells", policy)
      val c = r.compaction match {
        case graft.sources.KvCompactor.Compacted(seq, merged, into, dropped) =>
          s"compacted $merged segments -> $into at log seq $seq" +
            (if (dropped > 0) s" ($dropped cells dropped by retention)" else "")
        case graft.sources.KvCompactor.Parked(reason) => s"compaction parked: $reason"
        case graft.sources.KvCompactor.Aborted(reason) => s"compaction aborted: $reason"
      }
      val v = r.vacuum match {
        case v: graft.sources.KvVacuum.Vacuumed =>
          s"vacuumed ${v.deletedFiles} stray files (${v.deletedBytes} " +
            s"bytes), ${v.scratchDirs} scratch dirs" +
            (if (v.anchorHeldFiles == 0) ""
             else s"; anchor-held ${v.anchorHeldFiles} files")
        case graft.sources.KvVacuum.Skipped(reason) => s"vacuum skipped: $reason"
      }
      println(s"maintained $table: $c; $v")

    // The Delta DESCRIBE HISTORY analog: every manifest entry in seq
    // order with kind, writer, and add/remove counts — the version list
    // asOfSeq/sinceSeq reads address into.
    case "HistoryTable" =>
      val table = a(0)
      val dir = new org.apache.hadoop.fs.Path(s"${tableDir(table)}/cells")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      if (!graft.sources.KvLog.exists(fs, dir))
        println(s"$table has no manifest log (legacy/externally-staged directory)")
      else graft.sources.KvLog.history(fs, dir).foreach {
        case (seq, kind, writer, nAdds, nRemoves) =>
          val w = if (writer.isEmpty) "" else s" writer=$writer"
          println(f"$seq%6d  $kind%-7s adds=$nAdds%-4d removes=$nRemoves%-4d$w")
      }

    // The hbck analog: manifest <-> filesystem consistency, read-only
    // ([[graft.sources.KvFsck]]) — metadata arithmetic, no data file opened.
    case "CheckTable" =>
      val table = a(0)
      val r = graft.sources.KvFsck.check(spark, s"${tableDir(table)}/cells")
      r.rows.foreach { case (k, v) => println(f"$k%-18s $v") }
      // `deep` additionally cross-verifies every live file's footer row
      // count against its manifest stat (O(files) footer opens — the
      // operator chooses when to pay; hbck -checkCorruptHFiles analog)
      val deepOk = if (!a.lift(1).contains("deep")) true else {
        val d = graft.sources.KvFsck.deepCheck(spark, s"${tableDir(table)}/cells")
        println(f"deep_checked       ${d.checked}")
        println(f"deep_row_mismatch  ${d.rowMismatches}")
        println(f"deep_unreadable    ${d.unreadable}")
        d.healthy
      }
      println(if (r.healthy && deepOk) s"$table: HEALTHY"
        else s"$table: INCONSISTENT (missing or corrupt references above)")

    // HBase remove_peer: drop a DEAD tail's registration so its mark
    // (possibly corrupt, read as the conservative position 0) stops
    // gating compaction. CheckTable's tail_marks row is the visibility.
    case "DropTail" =>
      val Array(table, tailId) = a.take(2)
      val dir = new org.apache.hadoop.fs.Path(s"${tableDir(table)}/cells")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      if (graft.sources.KvLog.dropTail(fs, dir, tailId))
        println(s"dropped tail '$tailId' of $table: compaction no longer gates on it")
      else println(s"no tail '$tailId' registered on $table")

    // hbck2-style explicit repair: every action opted into BY NAME —
    // each encodes an operator judgment (accept data loss / surface
    // orphan bytes / abandon an unreadable pin) the engine must not make.
    case "RepairTable" =>
      val table = a(0)
      val actions = a.drop(1).toSet
      val known = Set("forgetMissing", "adoptOrphans", "dropBrokenSnapshots")
      require(actions.nonEmpty && actions.subsetOf(known),
        s"RepairTable actions must be from ${known.mkString(", ")}\n$usage")
      val r = graft.sources.KvFsck.repair(spark, s"${tableDir(table)}/cells",
        forgetMissing = actions("forgetMissing"),
        adoptOrphans = actions("adoptOrphans"),
        dropBrokenSnapshots = actions("dropBrokenSnapshots"))
      println(s"repaired $table: forgot=${r.forgotten.size} " +
        s"adopted=${r.adopted.size} droppedSnapshots=${r.droppedSnapshots.size}")
      r.forgotten.foreach(f => println(s"  forgot   $f"))
      r.adopted.foreach(f => println(s"  adopted  $f"))
      r.droppedSnapshots.foreach(s => println(s"  dropped  $s"))

    // Named snapshots — the HBase snapshot / restore_snapshot /
    // delete_snapshot / list_snapshots shell verbs ([[graft.sources.KvSnapshot]]).
    case "SnapshotTable" =>
      val Array(table, name) = a.take(2)
      val info = graft.sources.KvSnapshot.create(
        spark, s"${tableDir(table)}/cells", name)
      println(s"snapshot '$name' of $table at log seq ${info.seq} " +
        s"(${info.files.size} files pinned)")

    case "RestoreSnapshot" =>
      val Array(table, name) = a.take(2)
      val seq = graft.sources.KvSnapshot.restore(
        spark, s"${tableDir(table)}/cells", name)
      println(s"restored $table to snapshot '$name' at log seq $seq")

    case "DropSnapshot" =>
      val Array(table, name) = a.take(2)
      val dropped = graft.sources.KvSnapshot.drop(
        spark, s"${tableDir(table)}/cells", name)
      println(if (dropped) s"dropped snapshot '$name' of $table"
        else s"no snapshot '$name' on $table")

    case "CloneSnapshot" =>
      val Array(table, name, newTable) = a.take(3)
      val seq = graft.sources.KvSnapshot.cloneTo(spark,
        s"${tableDir(table)}/cells", name, s"${tableDir(newTable)}/cells")
      // the clone inherits the source's table spec (family/regions DDL)
      val (family, regions) = readSpec(spark, table)
      writeSpec(spark, newTable, family, regions)
      println(s"cloned snapshot '$name' of $table to $newTable " +
        s"(manifest seq $seq)")

    case "ListSnapshots" =>
      val table = a(0)
      val dir = new org.apache.hadoop.fs.Path(s"${tableDir(table)}/cells")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val snaps = graft.sources.KvSnapshot.list(fs, dir)
      if (snaps.isEmpty) println(s"no snapshots on $table")
      else snaps.foreach(s =>
        println(f"${s.name}%-32s seq=${s.seq}%-6d files=${s.files.size}%-5d " +
          s"at=${java.time.Instant.ofEpochMilli(s.createdAt)}"))

    // HBase shell `deleteall` / `delete`: commit tombstones by key (one
    // small sorted marker append — [[graft.sources.KvDelete]]); every
    // subsequent scan masks immediately, major compaction purges.
    case "DeleteRows" =>
      val Array(table, keysCsv) = a.take(2)
      val keys = keysCsv.split(",").toSeq.filter(_.nonEmpty)
      require(keys.nonEmpty, s"DeleteRows needs at least one key\n$usage")
      import spark.implicits._
      val ts = a.lift(2).map(_.toLong)
      graft.sources.KvDelete.deleteRows(spark, s"${tableDir(table)}/cells",
        keys.toDF("rowKey"), defaultTs = ts.getOrElse(Long.MaxValue))
      println(s"deleted ${keys.size} row(s) from $table" +
        ts.fold(" (all versions, until purge)")(t => s" (versions with ts <= $t)"))

    case "DeleteColumn" =>
      val Array(table, key, family, qualifier) = a.take(4)
      import spark.implicits._
      val ts = a.lift(4).map(_.toLong)
      graft.sources.KvDelete.deleteColumns(spark, s"${tableDir(table)}/cells",
        Seq((key, family, qualifier)).toDF("rowKey", "family", "qualifier"),
        defaultTs = ts.getOrElse(Long.MaxValue))
      println(s"deleted $table $key $family:$qualifier" +
        ts.fold("")(t => s" (ts <= $t)"))

    case other => throw new IllegalArgumentException(s"unknown command '$other'\n$usage")
  }

  /** The cell table of a warehouse table (schema: Cell.schema). */
  /** Table scans go through the engine's own `graft-kv` DataSource V2
    * connector ([[graft.sources.KvCellSource]]): the export subcommands'
    * family filter is pushed into the source — the `scan.addFamily`
    * architecture of the reference's `initTableMapperJob` wiring
    * (ExportHBaseTableToDelimiteredTxt.java:75-80).
    */
  def cells(spark: SparkSession, table: String): DataFrame =
    spark.read.format("graft-kv").load(s"${tableDir(table)}/cells")

  private def writeSpec(spark: SparkSession, table: String, family: String, regions: Int): Unit = {
    import spark.implicits._
    Seq(s"$family,$regions").toDF("spec").coalesce(1)
      .write.mode("overwrite").text(s"${tableDir(table)}/_spec")
  }

  private def readSpec(spark: SparkSession, table: String): (String, Int) = {
    val Array(family, regions) =
      spark.read.text(s"${tableDir(table)}/_spec").head().getString(0).split(",")
    (family, regions.toInt)
  }

  private val usage: String =
    """usage: graft.Cli <command> <args...>
      |  CreateTable <table> <family> <regionCount>
      |  PopulateTable <mappers> <records> <outputPath> <table> <family> <runId>
      |  ExportHBaseTableToDelimiteredTxt <table> <cf> <out> <compress> <schemaFile> <delimiter> [rowKeyColumn]
      |  ExportHBaseTableToDelimiteredSeq <table> <cf> <out> <compress> <schemaFile> <delimiter> [rowKeyColumn]
      |  ExportHBaseTableToAvro <table> <cf> <out> <codec> <schemaFile> [rowKeyColumn]
      |  ExportHBaseTableToParquet <table> <cf> <out> <codec> <schemaFile> [rowKeyColumn]
      |  AvroReader <file> <schemaFile> <recordsToRead>
      |  ParquetReader <file> <recordsToRead>
      |  RunQuery <queryName> <sfDir> <rowsToShow>   (any SparkEntry query)
      |  CompactTable <table> <regions> [codec]      (major-compact; optional re-codec: snappy|zstd|gzip|lz4|none)
      |  ResaltTable <table> <buckets> [regions]     (rewrite into a new salt layout; 0 = unsalt)
      |  CreateIndex <table> <name> <family> <qualifier> [pad] [regions] [include=q1,q2] [composite=q:pad,...]
      |                                              (maintained secondary index; include = covered payload,
      |                                               composite = additional key components, Phoenix shape)
      |  RefreshIndex <table> <name>                 (absorb base changes; CDC-incremental)
      |  DropIndex <table> <name>
      |  ListIndexes <table>
      |  VerifyIndex <table> <name>              (index scrutiny: missing = rebuild needed)
      |  VacuumTable <table> [graceHours]            (GC manifest-unreferenced files)
      |  MaintainTable <table> [maxSegments] [targetRegionMB] [graceHours]
      |                                              (policy pass: compact past threshold, vacuum expired)
      |  HistoryTable <table>                        (commit history from the manifest log)
      |  CheckTable <table> [deep]                   (hbck: manifest vs filesystem consistency; deep verifies footers)
      |  RepairTable <table> <action...>             (hbck2: forgetMissing | adoptOrphans | dropBrokenSnapshots)
      |  DropTail <table> <tailId>                   (remove_peer: stop a dead tail gating compaction)
      |  SnapshotTable <table> <name>                (pin the current state, zero data copied)
      |  RestoreSnapshot <table> <name>              (roll back to a snapshot, one metadata commit)
      |  DropSnapshot <table> <name>                 (unpin; files become vacuum-eligible)
      |  CloneSnapshot <table> <name> <newTable>     (materialize a snapshot as a new table)
      |  ListSnapshots <table>
      |  DeleteRows <table> <key>[,<key>...] [ts]    (deleteall: tombstone rows, masked from the next scan)
      |  DeleteColumn <table> <key> <family> <qualifier> [ts]
      |                                              (delete: tombstone one column)""".stripMargin
}
