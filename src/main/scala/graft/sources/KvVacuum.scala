package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** GARBAGE COLLECTION for `graft-kv` tables — deletes files the manifest
  * does not reference (the Delta VACUUM analog; HBase's equivalent is the
  * HFile cleaner chain). Two kinds of garbage land here, and vacuum is the
  * ONLY deleter of both (the OPTIMIZE/VACUUM split):
  *  - compaction's merged-away segments — [[KvCompactor]] publishes its
  *    entry and deliberately leaves them on disk for in-flight scans
  *    planned pre-publish;
  *  - crash leftovers the log's safety story deliberately LEAKS instead of
  *    risking data: a compaction that dies between staging and publish
  *    leaves renamed `part-c*` files and a `_compact_*` scratch dir; an
  *    epoch whose log append crashed leaves sealed targets.
  * All are invisible (every reader plans from the manifest), so correctness
  * never depends on this pass — it reclaims bytes, nothing else. That
  * one-sidedness is what makes it safe to run anytime.
  *
  * The GRACE PERIOD is the only correctness-adjacent knob, and its clock
  * starts at the moment the file became UNREFERENCED, not when it was
  * written: a merged-away segment's window runs from its removing entry's
  * publish time ([[KvLog.removalTimes]]) — a segment written days ago and
  * compacted away a second ago survives a full grace period, so every scan
  * planned pre-publish gets its read window. Files the log never removed
  * (crash strays, in-flight commits renaming files before their log
  * append) fall back to their own mtime — younger than `graceMs` is never
  * touched (Delta's retention check, same reasoning).
  *
  * Scale shape: one `listStatus` of the table root (bounded region
  * metadata, driver-side — the same cost every scan-planning pass pays)
  * plus a CHECKPOINT-ANCHORED removal-attribution replay (the horizon
  * entry carries its pending set, [[KvLog.removalTimes]] — O(commits
  * since checkpoint), full replay only before the first checkpoint);
  * deletes are per-stray, not per-live-file. Requires a manifest: on a legacy
  * directory every file is only discoverable by listing, so "unreferenced"
  * is undefined and vacuum refuses rather than guesses.
  */
object KvVacuum {

  sealed trait Result
  /** `anchorHeldFiles`/`anchorHeldBytes` (r19, ADVICE): candidates past
    * their grace that ONLY the snapshot CDC anchor is retaining — the
    * observability for "an old snapshot silently disables reclamation":
    * a growing number here means an anchor outlived its consumer;
    * deleting the anchoring snapshot releases the whole span next pass.
    */
  case class Vacuumed(deletedFiles: Int, deletedBytes: Long, scratchDirs: Int,
      anchorHeldFiles: Int = 0, anchorHeldBytes: Long = 0L)
      extends Result
  case class Skipped(reason: String) extends Result

  def vacuum(spark: SparkSession, path: String, graceMs: Long = 24L * 3600 * 1000)
      : Result = {
    require(graceMs >= 0, "graft-kv vacuum: grace must be non-negative")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return Skipped(s"no table at $path")
    if (!KvLog.exists(fs, dir)) return Skipped(
      s"$path has no manifest log: unreferenced files are undefined on a " +
        "legacy directory (every part-* file there IS the table)")
    val removedAt = KvLog.removalTimes(fs, dir)
    val cutoff = System.currentTimeMillis() - graceMs
    // CANDIDATES first, reference checks LAST: the slow part of a pass is
    // the removal-attribution replay above, and the hazard window is the
    // time between reading the reference sets and deleting — a concurrent
    // RESTORE can re-publish a long-removed file as live, and a fresh
    // snapshot can pin one. Reading live/pinned immediately before the
    // delete loop shrinks that window from the whole replay to the loop
    // itself (closing it fully needs a lock service no plain FileSystem
    // offers — the same residual Delta accepts on non-locking stores).
    val listing = fs.listStatus(dir)
    val live = KvLog.liveFiles(fs, dir).toSet
    // Drop-record side files ([[KvLog.Entry.dropFiles]]) are referenced
    // by their RETENTION entry, not the live set: any `drops-*` file no
    // retained entry references is a crash stray (staged rename before a
    // publish that never happened) or truncation debris — reclaimable on
    // the file's own mtime clock. Resolved lazily: tables that never ran
    // a retention pass pay nothing.
    lazy val referencedDrops = KvLog.referencedDropFiles(fs, dir)
    // Files any NAMED SNAPSHOT references are permanently off-limits (the
    // HBase archive contract, [[KvSnapshot]]): a snapshot read plans from
    // its own manifest, so reclaiming a referenced file would silently
    // break it long after any grace period. One `_snapshots` listing +
    // one small read per snapshot, GC path only.
    val pinned = KvSnapshot.referencedFiles(fs, dir)
    // Snapshots are also durable CDC ANCHORS (r18, [[KvLog.changes]]):
    // the change span (oldest snapshot seq, latest] must stay servable
    // across maintenance, so the NON-COMPACT adds of every retained entry
    // above that seq are spared even after a later compaction merged them
    // away and their grace expired (compact rewrites are CDC-transparent
    // and stay ordinary candidates; the span's drop files are already
    // protected through their retained entries). O(retained log) replay,
    // only when snapshots exist.
    val spanPinned: Set[String] = KvSnapshot.minSeq(fs, dir)
      .fold(Set.empty[String]) { a =>
        (math.max(a + 1, KvLog.earliestSeq(fs, dir)) to KvLog.latestSeq(fs, dir))
          .flatMap(s => KvLog.read(fs, dir, s).toSeq)
          .filterNot(_.compact).flatMap(_.adds).toSet
      }
    var files = 0
    var bytes = 0L
    var dirs = 0
    var anchorHeld = 0
    var anchorHeldBytes = 0L
    listing.foreach { st =>
      val n = st.getPath.getName
      // Crash-leftover scratch dirs: a compaction's `_compact_*`, a
      // resalt's `_resalt_*`, and a batch/epoch writer's `_tmp_*` staging
      // (its owner deletes it on commit AND abort, so an old one is
      // orphaned). Age is judged by
      // the NEWEST mtime found RECURSIVELY inside (compaction's scratch
      // nests the sink's own `_tmp_*` staging a level down) — a
      // long-running write keeps its staging alive by creating files in
      // it, so only a writer silent for the whole grace window can be
      // reclaimed. Caveat inherited from filesystem semantics: stores
      // that only set a file's mtime on CLOSE show no progress while one
      // huge file streams — the default 24h grace is the margin. The
      // owner may also delete its dir mid-scan (commit/abort) — that is
      // the dir cleaning itself up, not an error.
      if (st.isDirectory &&
          (n.startsWith("_compact_") || n.startsWith("_resalt_") ||
            n.startsWith("_tmp_"))) {
        try {
          val it = fs.listFiles(st.getPath, true)
          var newest = st.getModificationTime
          while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
          if (newest < cutoff) {
            fs.delete(st.getPath, true): Unit
            dirs += 1
          }
        } catch { case _: java.io.FileNotFoundException => () }
      } else if (st.isFile && n.startsWith("part-") && n.endsWith(".parquet")
          && !live.contains(n) && !pinned.contains(n) && !spanPinned.contains(n)
          // Grace from the un-reference instant: the removing entry's
          // publish for merged-away segments, the file's own mtime for
          // never-referenced strays.
          && removedAt.getOrElse(n, st.getModificationTime) < cutoff) {
        bytes += st.getLen
        fs.delete(st.getPath, false): Unit
        files += 1
      } else if (st.isFile && n.startsWith("part-") && n.endsWith(".parquet")
          && !live.contains(n) && !pinned.contains(n) && spanPinned.contains(n)
          && removedAt.getOrElse(n, st.getModificationTime) < cutoff) {
        // past grace and unreferenced except by the CDC anchor span —
        // surfaced in the summary (Vacuumed doc) so a forgotten snapshot
        // shows up as held bytes instead of silent storage growth
        anchorHeld += 1
        anchorHeldBytes += st.getLen
      } else if (st.isFile && n.startsWith("drops-") && n.endsWith(".parquet")
          && st.getModificationTime < cutoff && !referencedDrops.contains(n)) {
        bytes += st.getLen
        fs.delete(st.getPath, false): Unit
        files += 1
      }
    }
    // INDEX-REBUILD leftovers under `_index/`: first RECOVER any live
    // index a crashed swap parked at `.old-<name>-<tok>` (restoring data
    // always precedes reclaiming bytes), then GC aged `.rebuild-*` /
    // `.old-*` staging dirs whose live slot exists — crash debris the
    // top-level scratch scan above never sees. Same recursive-newest-mtime
    // age rule as the scratch dirs: an in-flight rebuild keeps its staging
    // young by writing into it.
    val idxRoot = new Path(dir, KvIndex.DirName)
    if (fs.exists(idxRoot)) {
      KvIndex.recoverOrphans(fs, dir): Unit
      fs.listStatus(idxRoot).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory &&
            (n.startsWith(".rebuild-") || n.startsWith(".old-"))) {
          try {
            val it = fs.listFiles(st.getPath, true)
            var newest = st.getModificationTime
            while (it.hasNext)
              newest = math.max(newest, it.next().getModificationTime)
            // An aged `.old-*` park that still carries the ONLY copy of a
            // live index (recoverOrphans' restore failed — rename error)
            // is NOT debris: deleting it would silently drop the index.
            // Skip it; a later recovery pass restores, then GC reclaims.
            if (newest < cutoff &&
                (!n.startsWith(".old-") ||
                  KvIndex.oldDirSafeToReclaim(fs, dir, n))) {
              fs.delete(st.getPath, true): Unit
              dirs += 1
            }
          } catch { case _: java.io.FileNotFoundException => () }
        }
      }
    }
    Vacuumed(files, bytes, dirs, anchorHeld, anchorHeldBytes)
  }
}
