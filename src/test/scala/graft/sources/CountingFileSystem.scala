package graft.sources

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, RawLocalFileSystem}

/** A local filesystem that COUNTS metadata calls, registered under the
  * `cfs:` scheme (`fs.cfs.impl`) — the measuring instrument behind the
  * manifest log's admission-cost claims ([[KvLog]]/[[KvTailStream]]
  * scaladocs): log-mode tailing must do ZERO directory listings in steady
  * state and O(new commits) point probes, where listing-mode admission is
  * O(all segments) per batch. Counters are global (the Hadoop FS cache
  * shares one instance per scheme); tests reset them around the calls they
  * meter.
  */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("cfs:///")

  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFileSystem.lists.incrementAndGet()
    super.listStatus(p)
  }

  override def getFileStatus(p: Path): FileStatus = {
    CountingFileSystem.probes.incrementAndGet()
    super.getFileStatus(p)
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    if (p.getName.startsWith("part-") && p.getName.endsWith(".parquet")) {
      CountingFileSystem.dataOpens.incrementAndGet()
      CountingFileSystem.openedData.add(p.toString)
    }
    if (p.toString.contains(s"/${KvLog.LogDirName}/"))
      CountingFileSystem.logReads.incrementAndGet()
    super.open(p, bufferSize)
  }
}

object CountingFileSystem {
  /** Directory listings (`listStatus`). */
  val lists = new AtomicLong(0)
  /** Point metadata probes (`getFileStatus`, including `exists`/`open`). */
  val probes = new AtomicLong(0)
  /** Opens of DATA files (`part-*.parquet`) — footer reads included; the
    * manifest-stats claims pin these at zero for metadata-served plans.
    */
  val dataOpens = new AtomicLong(0)
  /** The PATHS behind [[dataOpens]] — lets a spec distinguish base-table
    * opens from index-table opens (the covered-index zero-base-reads
    * claim).
    */
  val openedData = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Opens under a table's `_log/` dir: entries, hints (`_latest`,
    * `_horizon`, `_floor`, `_trunc`) and layout files (`_salt`) — the
    * manifest reads one planning pass pays.
    */
  val logReads = new AtomicLong(0)
  def reset(): Unit = {
    lists.set(0); probes.set(0); dataOpens.set(0); openedData.clear()
    logReads.set(0)
  }
}
