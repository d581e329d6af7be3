package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Consistency check for a `graft-kv` table — the `hbck` analog: does the
  * MANIFEST's view of the table agree with the FILESYSTEM, and is every
  * byte on disk accounted for? Read-only: the check never repairs (vacuum
  * is the one deleter; a missing live file has no safe automatic fix).
  *
  * Accounting model: every `part-*.parquet` under the table root is
  * exactly one of
  *  - LIVE — in the manifest's current live set,
  *  - PENDING REMOVAL — removed by some entry, awaiting vacuum grace
  *    ([[KvLog.removalTimes]]; in-flight readers may still be on it),
  *  - SNAPSHOT-PINNED — referenced only by a named snapshot
  *    ([[KvSnapshot]]; vacuum skips it until the snapshot drops),
  *  - ORPHAN — referenced by nothing (a crash stray; vacuum-eligible
  *    after grace).
  * `liveMissing` / `snapshotMissing` count files the manifest/snapshots
  * reference that are NOT on disk — the two states that mean data loss
  * (vacuum reclaiming below a pin would have to have raced, or an
  * operator deleted files by hand). `boundsInverted` counts manifest
  * stats with minKey > maxKey — impossible from the sink's writers, so a
  * nonzero value means a corrupted or hand-edited log.
  *
  * Scale shape: one manifest replay + one directory listing + set
  * arithmetic, all driver-side metadata — no data file is opened, so the
  * check costs the same on a 100-TB table as on a test fixture.
  */
object KvFsck {

  case class Report(
      liveFiles: Long,
      liveMissing: Long,
      statsCoverage: Long,
      bloomCoverage: Long,
      pendingRemovals: Long,
      snapshotPinned: Long,
      snapshotMissing: Long,
      orphans: Long,
      scratchDirs: Long,
      logEntries: Long,
      boundsInverted: Long,
      /** Registered streaming-tail marks ([[KvLog.tailPositions]]): not a
        * health failure, but the thing to look at when compaction parks
        * forever — a DEAD tail's mark (corrupt ⇒ conservative position 0)
        * gates compaction until `DropTail` removes it.
        */
      tailMarks: Long = 0L,
      /** Tombstone accounting ([[KvDelete]]): how many live files carry
        * delete markers, and how many markers are live in total — the
        * numbers an operator reads to decide whether masked reads warrant
        * a major compaction (which applies and purges them). Informational
        * like tailMarks, not a health failure.
        */
      tombstoneFiles: Long = 0L,
      liveTombstones: Long = 0L,
      /** RETENTION DROP-RECORD side files ([[KvLog.Entry.dropFiles]],
        * r17): how many a retained entry references, and how many of
        * those are MISSING from disk. A missing drop file is a health
        * failure: every CDC span / tail crossing its entry dies mid-read
        * with FileNotFound instead of a planned refusal, and nothing can
        * regenerate the records (the dropped bytes are gone) — the
        * operator's recovery is re-baselining the affected consumers.
        */
      dropFiles: Long = 0L,
      dropMissing: Long = 0L) {
    /** No referenced file is missing and no manifest stat is corrupt. */
    def healthy: Boolean =
      liveMissing == 0 && snapshotMissing == 0 && boundsInverted == 0 &&
        dropMissing == 0
    /** The (check, value) rows a report prints / the fsck query emits. */
    def rows: Seq[(String, Long)] = Seq(
      "live_files" -> liveFiles,
      "live_missing" -> liveMissing,
      "stats_coverage" -> statsCoverage,
      "bloom_coverage" -> bloomCoverage,
      "pending_removals" -> pendingRemovals,
      "snapshot_pinned" -> snapshotPinned,
      "snapshot_missing" -> snapshotMissing,
      "orphans" -> orphans,
      "scratch_dirs" -> scratchDirs,
      "log_entries" -> logEntries,
      "bounds_inverted" -> boundsInverted,
      "tail_marks" -> tailMarks,
      "tombstone_files" -> tombstoneFiles,
      "live_tombstones" -> liveTombstones,
      "drop_files" -> dropFiles,
      "drop_missing" -> dropMissing,
      "healthy" -> (if (healthy) 1L else 0L))
  }

  case class RepairActions(
      forgotten: Seq[String],
      adopted: Seq[String],
      droppedSnapshots: Seq[String])

  /** The reference sets both [[check]] and [[repair]] bucket files with —
    * gathered once per call: manifest live set (with its stats, from the
    * same version), pending removals, snapshot-pinned names, and the
    * on-disk data files.
    */
  private case class TableSets(live: KvLog.Live, removals: Set[String],
      snapRefs: Set[String], onDisk: Set[String])

  private def tableSets(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): TableSets = TableSets(
    live = KvLog.live(fs, dir),
    removals = KvLog.removalTimes(fs, dir).keySet,
    snapRefs = KvSnapshot.referencedFiles(fs, dir),
    onDisk = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet)

  /** EXPLICIT repair of the states [[check]] flags — the hbck2 model:
    * every action must be opted into by name, because each one encodes an
    * operator judgment the engine cannot make ("that data is gone, accept
    * it" / "those bytes are real data, surface them"). Each action is one
    * ordinary manifest commit (or snapshot drop) through the same
    * concurrency-checked paths every writer uses — repair never touches a
    * data file.
    *
    *  - `forgetMissing` — publish `removes` for live files that are gone
    *    from disk: acknowledged data loss, but scans stop dying with
    *    FileNotFound on the phantom partition. (HBase hbck2's
    *    fixMeta-after-region-loss.)
    *  - `adoptOrphans` — publish `adds` for on-disk data files nothing
    *    references: their cells BECOME VISIBLE (if an orphan duplicates
    *    live cells — a crashed re-commit — the LWW pivot absorbs the
    *    duplicates, but raw scans see both; the operator chose this).
    *    Adoption SCANS each orphan to recompute its full manifest stats
    *    (rows, key/ts bounds, bloom, TOMBSTONE count) before publishing:
    *    a stat-less adopted entry would break the read path's
    *    "stat-less ⇒ marker-free" invariant ([[KvLog.FileStat]] doc) — an
    *    orphan from a crashed delete-marker commit would then mask
    *    nothing and surface raw NUL-qualifier marker rows on plain scans.
    *    O(orphan bytes) driver-side, paid only on the explicit repair.
    *  - `dropBrokenSnapshots` — drop snapshots referencing missing files:
    *    the pinned state is unreadable anyway, and dropping releases the
    *    pin so vacuum can reclaim what remains.
    */
  def repair(spark: SparkSession, path: String,
      forgetMissing: Boolean = false,
      adoptOrphans: Boolean = false,
      dropBrokenSnapshots: Boolean = false): RepairActions = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(dir) && KvLog.exists(fs, dir),
      s"graft-kv repair: $path is not a manifest-logged table")
    val TableSets(version, removals, snapRefs, onDisk) = tableSets(fs, dir)
    val live = version.names.toSet
    val forgotten =
      if (!forgetMissing) Nil
      else {
        val missing = (live -- onDisk).toSeq.sorted
        if (missing.nonEmpty)
          KvLog.append(fs, dir, adds = Nil, removes = missing)
        missing
      }
    val adopted =
      if (!adoptOrphans) Nil
      else {
        val orphans = (onDisk -- live -- removals -- snapRefs).toSeq.sorted
        if (orphans.nonEmpty) {
          val conf = spark.sessionState.newHadoopConf()
          val stats = orphans.map { n =>
            n -> recomputeStat(fs, conf, new Path(dir, n))
          }.toMap
          KvLog.append(fs, dir, adds = orphans, stats = stats)
        }
        orphans
      }
    val dropped =
      if (!dropBrokenSnapshots) Nil
      else KvSnapshot.list(fs, dir)
        .filter(_.files.exists { case (f, _) => !onDisk.contains(f) })
        .map(_.name).sorted
        .filter(KvSnapshot.drop(spark, path, _))
    RepairActions(forgotten, adopted, dropped)
  }

  /** Full writer-grade [[KvLog.FileStat]] for a file the sink did NOT
    * stat (an adopted orphan): one sequential scan collecting exactly what
    * [[KvFileWriter]] collects in-stream — row count, rowKey bounds +
    * bloom, ts bounds over PUT rows only, and the tombstone count that
    * keeps the read path's masking gate sound for adopted files.
    */
  private def recomputeStat(fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      file: Path): KvLog.FileStat = {
    val cols = Seq("rowKey", "qualifier", "ts")
    val r = org.apache.parquet.hadoop.ParquetReader
      .builder(new KvReadSupport(cols, cols, 0), file).withConf(conf).build()
    var rows = 0L
    var tombstones = 0L
    var minKey: String = null
    var maxKey: String = null
    var minTs = Long.MaxValue
    var maxTs = Long.MinValue
    var sawTs = false
    val bloom = new KvBloom.Builder
    try {
      var row = r.read()
      while (row != null) {
        rows += 1
        val marker = !row.isNullAt(1) && {
          val q = row.getUTF8String(1)
          q.numBytes() > 0 && q.getByte(0) == 0
        }
        if (marker) tombstones += 1
        if (!row.isNullAt(0)) {
          val k = row.getUTF8String(0).toString // copy out of the reused buffer
          // byte order, matching the sink's stat computation
          if (minKey == null || graft.kv.Utf8Order.compare(k, minKey) < 0) minKey = k
          if (maxKey == null || graft.kv.Utf8Order.compare(k, maxKey) > 0) maxKey = k
          bloom.add(k)
        }
        if (!marker && !row.isNullAt(2)) {
          val t = row.getLong(2)
          if (t < minTs) minTs = t
          if (t > maxTs) maxTs = t
          sawTs = true
        }
        row = r.read()
      }
    } finally r.close()
    KvLog.FileStat(rows, fs.getFileStatus(file).getLen,
      Option(minKey), Option(maxKey),
      if (sawTs) Some(minTs) else None, if (sawTs) Some(maxTs) else None,
      bloom.buildToken(), tombstones)
  }

  case class DeepReport(
      checked: Long, rowMismatches: Long, unreadable: Long) {
    def healthy: Boolean = rowMismatches == 0 && unreadable == 0
  }

  /** DEEP check — the level [[check]] deliberately avoids: open every
    * live file's parquet FOOTER and cross-verify its row count against
    * the manifest's writer-collected stat. A mismatch means the bytes on
    * disk are not the bytes the commit sealed (truncated upload, bit rot,
    * hand-edited file); an unreadable footer means outright corruption.
    * O(live files) footer round-trips — the operator chooses when to pay
    * that (HBase's `hbck -checkCorruptHFiles` split), and each footer is
    * independent so a cluster could fan the probes out; stat-less legacy
    * files are counted checked with nothing to compare against.
    */
  def deepCheck(spark: SparkSession, path: String): DeepReport = {
    val dir = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    require(fs.exists(dir) && KvLog.exists(fs, dir),
      s"graft-kv fsck: $path is not a manifest-logged table")
    val version = KvLog.live(fs, dir)
    val stats = version.stats
    val live = version.names
    var mismatches = 0L
    var unreadable = 0L
    live.foreach { f =>
      val footerRows =
        try Some(KvFilters.fileRowCount(new Path(dir, f), conf))
        catch { case _: Exception => unreadable += 1; None }
      footerRows.foreach { rows =>
        if (stats.get(f).exists(_.rows != rows)) mismatches += 1
      }
    }
    DeepReport(live.size, mismatches, unreadable)
  }

  def check(spark: SparkSession, path: String): Report = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(dir), s"graft-kv fsck: no table at $path")
    require(KvLog.exists(fs, dir),
      s"graft-kv fsck: $path has no manifest log — consistency is undefined " +
        "for legacy/externally-staged directories (every file is 'live')")
    val TableSets(version, removals, snapRefs, onDisk) = tableSets(fs, dir)
    val live = version.names.toSet
    val dropRefs = KvLog.referencedDropFiles(fs, dir)
    val stats = version.stats
    val scratch = fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath.getName)
      .count(n => n.startsWith("_tmp_") || n.startsWith("_compact_"))
    val report = Report(
      liveFiles = live.size,
      liveMissing = (live -- onDisk).size,
      statsCoverage = live.count(stats.contains),
      bloomCoverage = live.count(f => stats.get(f).exists(_.bloom.isDefined)),
      pendingRemovals = (removals & onDisk -- live).size,
      snapshotPinned = (snapRefs & onDisk -- live -- removals).size,
      snapshotMissing = (snapRefs -- onDisk).size,
      orphans = (onDisk -- live -- removals -- snapRefs).size,
      scratchDirs = scratch,
      logEntries = KvLog.history(fs, dir).size,
      boundsInverted = stats.valuesIterator.count(s =>
        s.minKey.zip(s.maxKey).exists { case (lo, hi) =>
          graft.kv.Utf8Order.compare(lo, hi) > 0 }),
      tailMarks = KvLog.tailPositions(fs, dir).size,
      tombstoneFiles = stats.valuesIterator.count(_.tombstones > 0),
      liveTombstones = stats.valuesIterator.map(_.tombstones).sum,
      dropFiles = dropRefs.size,
      dropMissing = dropRefs.count(n => !fs.exists(new Path(dir, n))))
    // The accounting model as an executable identity: the four buckets
    // PARTITION the on-disk set, so their sizes must tile it exactly. A
    // failure here is a bug in fsck itself, never in the table.
    val liveOnDisk = report.liveFiles - report.liveMissing
    require(liveOnDisk + report.pendingRemovals + report.snapshotPinned +
        report.orphans == onDisk.size,
      s"graft-kv fsck: internal accounting error — buckets do not tile the " +
        s"on-disk set ($report vs ${onDisk.size} files)")
    report
  }
}
