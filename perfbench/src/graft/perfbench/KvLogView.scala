package graft.perfbench

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.sources.KvLog

/** The manifest-log calls the benchmark makes, in plain types: `KvLog` is
  * visible only inside the `graft` package, so this bridge lives there.
  */
object KvLogView {
  def latestSeq(fs: FileSystem, table: Path): Long = KvLog.latestSeq(fs, table)

  /** (is a compaction, files added, bytes added) of log entry `seq`. */
  def entry(fs: FileSystem, table: Path, seq: Long): Option[(Boolean, Int, Long)] =
    KvLog.read(fs, table, seq).map(e =>
      (e.compact, e.adds.size, e.stats.values.map(_.bytes).sum))

  /** Live files as (name, bytes, delete-marker rows): one timed replay. */
  def liveFilesWithStats(fs: FileSystem, table: Path): Seq[(String, Long, Long)] =
    KvLog.liveFilesWithStats(fs, table).map { case (n, st) =>
      (n, st.map(_.bytes).getOrElse(0L), st.map(_.tombstones).getOrElse(0L))
    }

  def liveBytes(fs: FileSystem, table: Path): Long =
    KvLog.liveFileStats(fs, table).values.map(_.bytes).sum

  def entries(fs: FileSystem, table: Path): Int = KvLog.history(fs, table).size
}
