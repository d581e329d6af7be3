package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** NAMED SNAPSHOTS for `graft-kv` tables — the HBase `snapshot` /
  * `restore_snapshot` cycle (a snapshot there is a manifest of HFile
  * references, not a data copy; the archiver keeps referenced HFiles alive
  * after deletes and compactions). Same shape here:
  *
  *  - `create` captures the CURRENT live file set — names, stats, and the
  *    pinned log seq — into one self-contained manifest under
  *    `_snapshots/<name>`. Zero data copied, zero data read: the set comes
  *    from the log replay planning already does.
  *  - A batch read with `.option("snapshot", name)` plans from the
  *    snapshot's OWN list, not a log replay. This is what distinguishes a
  *    named snapshot from `asOfSeq` time travel: a seq read replays the
  *    log and dies once retention truncates the entries or vacuum
  *    reclaims the files; a snapshot is durable — its manifest is
  *    self-contained and [[KvVacuum]] never deletes a file any snapshot
  *    references (the HBase archive contract). Retention policy stays
  *    free to truncate aggressively; snapshots are the explicit pins.
  *  - `restore` rolls the table back by PUBLISHING a checkpoint entry
  *    whose adds are the snapshot set and whose removes are everything
  *    live that isn't in it — one O(files) metadata commit through the
  *    normal log protocol (concurrent-commit safe via the same
  *    expectSeq + retry loop as compaction; retries recompute everything,
  *    so pure metadata makes every race retryable). History is preserved:
  *    the pre-restore state remains one more version in the log.
  *  - `drop` deletes the manifest; the files it pinned become ordinary
  *    vacuum candidates again (if nothing else references them).
  *
  * Scale shape: a snapshot costs one log replay + one small file write at
  * create, one file read at plan time, and adds one `_snapshots` listing
  * to each vacuum pass — all driver-side bounded metadata, independent of
  * data size. 100 TB tables snapshot in milliseconds.
  */
object KvSnapshot {

  val DirName = "_snapshots"
  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9._-]{0,127}".r

  /** One snapshot: `seq` is the log version it pinned (informational once
    * created — reads use the stored list), `files` the complete live set
    * at create time with its manifest stats. Every snapshot also
    * captures the table CONFIG at create time — the salt registration and
    * catalog properties — so a clone reproduces the snapshot's world, not
    * the source's CURRENT one (a table converted to a different salt
    * after the snapshot would otherwise stamp the clone with a bucket
    * count its pinned files were never written under — silently empty
    * point lookups).
    */
  case class Info(name: String, seq: Long, createdAt: Long,
      files: Seq[(String, Option[KvLog.FileStat])],
      salt: Option[Int] = None,
      props: Map[String, String] = Map.empty)

  private def snapDir(table: Path) = new Path(table, DirName)
  private def snapPath(table: Path, name: String) = new Path(snapDir(table), name)

  private def requireValidName(name: String): Unit =
    require(NamePattern.pattern.matcher(name).matches(),
      s"graft-kv snapshot: invalid name '$name' (letters, digits, . _ -; " +
        "max 128 chars; must start alphanumeric)")

  /** Capture the current table state under `name`. Fails if the name
    * exists (snapshots are immutable — drop first to re-take) or the
    * table has no manifest log (a legacy directory has no defined live
    * set to pin).
    */
  def create(spark: SparkSession, path: String, name: String): Info = {
    requireValidName(name)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    require(KvLog.exists(fs, dir),
      s"graft-kv snapshot: $path has no manifest log")
    require(!fs.exists(snapPath(dir, name)),
      s"graft-kv snapshot: '$name' already exists on $path (drop it first)")
    // Seq, files and salt from ONE resolution: a commit landing mid-create
    // must not leave a snapshot claiming seq N while holding N+1's files.
    val version = KvLog.live(fs, dir)
    val seq = version.seq
    require(seq >= 0, s"graft-kv snapshot: $path is empty — nothing to pin")
    val files = version.withStats
    val now = System.currentTimeMillis()
    // cfg marks a config-recording manifest (the only shape [[get]]
    // reads); salt= carries the registration the pinned files were
    // written under; `p<TAB>k=v` lines carry the catalog properties.
    val salt = KvSalt.resolveAt(fs, dir, Some(seq))
    val props = KvTableProps.read(fs, dir)
    val header = s"v1 snapshot seq=$seq at=$now cfg" +
      salt.fold("")(n => s" salt=$n")
    val body = (header +:
      (files.map { case (n, st) => "+" + n + st.fold("")(KvLog.statSuffix) } ++
        props.toSeq.sorted.map { case (k, v) => s"p\t$k=$v" }))
      .mkString("", "\n", "\n")
    // temp-write + atomic no-overwrite publish, the same primitive log
    // entries use (KvLog.atomicPublish) — on POSIX-rename stores a plain
    // rename would let two racing creates both "succeed" with one
    // manifest silently replaced, leaving the loser holding an Info whose
    // pins the stored snapshot does not protect.
    val tmp = new Path(snapDir(dir), s".tmp-${UUID.randomUUID().toString.take(8)}")
    KvLog.writeText(fs, tmp, body)
    if (!KvLog.atomicPublish(fs, tmp, snapPath(dir, name))) {
      fs.delete(tmp, false): Unit
      throw new IllegalStateException(
        s"graft-kv snapshot: concurrent create of '$name' on $path")
    }
    Info(name, seq, now, files, salt, props)
  }

  /** Read one snapshot's manifest; None when it doesn't exist. A manifest
    * without the `cfg` token records no table config and is refused.
    */
  def get(fs: FileSystem, table: Path, name: String): Option[Info] = {
    requireValidName(name)
    val p = snapPath(table, name)
    val text =
      try Some(KvLog.readText(fs, p))
      catch { case _: java.io.FileNotFoundException => None }
    text.map { t =>
      val lines = t.split("\n").toSeq.filter(_.nonEmpty)
      val header = lines.head.split(" ")
      require(header(0) == "v1" && header(1) == "snapshot",
        s"graft-kv snapshot: unknown manifest version in $p")
      if (!header.contains("cfg")) throw new IllegalStateException(
        s"graft-kv snapshot: $p is a manifest without its table config " +
          "(`cfg`), a shape this engine does not read")
      val seq = header.collectFirst { case h if h.startsWith("seq=") =>
        h.stripPrefix("seq=").toLong }.getOrElse(-1L)
      val at = header.collectFirst { case h if h.startsWith("at=") =>
        h.stripPrefix("at=").toLong }.getOrElse(0L)
      val salt = header.collectFirst { case h if h.startsWith("salt=") =>
        h.stripPrefix("salt=").toInt }
      val files = lines.tail.collect { case l if l.startsWith("+") =>
        val toks = l.tail.split("\t")
        toks.head -> KvLog.parseStat(toks.tail)
      }
      val props = lines.tail.collect { case l if l.startsWith("p\t") =>
        l.drop(2).split("=", 2) match {
          case Array(k, v) => k -> v
        }
      }.toMap
      Info(name, seq, at, files, salt, props)
    }
  }

  /** All snapshots on the table (empty when none / no dir). */
  def list(fs: FileSystem, table: Path): Seq[Info] = {
    val d = snapDir(table)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith("."))
      .sorted
      .flatMap(get(fs, table, _))
  }

  /** Every file name any snapshot references — [[KvVacuum]]'s protected
    * set (the HBase archive contract: referenced store files survive
    * deletion from the live table). One listing + one small read per
    * snapshot, on the GC path only.
    */
  def referencedFiles(fs: FileSystem, table: Path): Set[String] =
    list(fs, table).flatMap(_.files.map(_._1)).toSet

  /** The OLDEST pinned seq across all snapshots (None without any) —
    * the durable-CDC-anchor horizon (r18): [[KvLog.truncate]] never
    * drops entries above it and [[KvVacuum]] spares the span's adds, so
    * a change span anchored at any snapshot stays servable across
    * maintenance ([[KvLog.changes]]).
    */
  def minSeq(fs: FileSystem, table: Path): Option[Long] =
    list(fs, table).map(_.seq).minOption

  /** Delete the snapshot manifest. Returns false when it didn't exist.
    * The files it pinned become ordinary vacuum candidates again.
    */
  def drop(spark: SparkSession, path: String, name: String): Boolean = {
    requireValidName(name)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(snapPath(dir, name), false)
  }

  /** Materialize snapshot `name` as a NEW independent table at `destPath`
    * — the HBase `ExportSnapshot` + `clone_snapshot` cycle, which also
    * copies HFiles when crossing filesystems (hard links don't exist on
    * object stores, so a portable clone is a copy). The copy is
    * DISTRIBUTED: one task per region file (region-sized units, the same
    * parallelism a scan gets), executors stream bytes FS-to-FS with no
    * driver involvement beyond the task launch. The destination gets a
    * fresh manifest whose first entry is a checkpoint of the copied set
    * with the snapshot's stats carried over — so the clone plans
    * metadata-served from its first read, and its lifecycle (compaction,
    * vacuum, snapshots of its own) is fully independent of the source.
    */
  def cloneTo(spark: SparkSession, path: String, name: String,
      destPath: String): Long = {
    val src = new Path(path)
    val dest = new Path(destPath)
    val conf = spark.sessionState.newHadoopConf()
    val fs = src.getFileSystem(conf)
    val dfs = dest.getFileSystem(conf)
    val info = get(fs, src, name).getOrElse(throw new IllegalArgumentException(
      s"graft-kv snapshot: no snapshot '$name' on $path"))
    require(!KvLog.exists(dfs, dest) &&
        (!dfs.exists(dest) || dfs.listStatus(dest).isEmpty),
      s"graft-kv snapshot: clone destination $destPath is not empty")
    dfs.mkdirs(dest)
    // The clone must inherit the source's TABLE PROPERTIES, not just its
    // data: a salted table's files store salt-prefixed keys, and a clone
    // without the recorded `_salt` would auto-detect nothing — plain reads
    // would emit stored keys as logical rowKeys with unexpanded
    // predicates, silently wrong results (the exact failure the recorded
    // property exists to prevent). Registering also creates the log dir
    // before any file lands, so the copy window never looks like a
    // log-less migration to a concurrent committer.
    KvLog.ensureLogDir(dfs, dest)
    // The clone gets the SNAPSHOT-TIME table config (the manifest carries
    // the salt registration and catalog properties the pinned files were
    // written under); the source's CURRENT config may have diverged since
    // — e.g. a salt conversion — and stamping it on the clone would
    // mis-route every read of the pinned data.
    info.salt.foreach(n => KvSalt.register(dfs, dest, n))
    KvTableProps.write(dfs, dest, info.props)
    val sconf = KvScanBuilder.broadcastConf(
      new org.apache.spark.util.SerializableConfiguration(conf))
    val srcStr = src.toString
    val destStr = dest.toString
    spark.sparkContext
      .parallelize(info.files.map(_._1), math.max(1, info.files.size))
      .foreach { n =>
        val c = sconf.value.value
        val from = new Path(srcStr, n)
        val to = new Path(destStr, n)
        if (!org.apache.hadoop.fs.FileUtil.copy(
            from.getFileSystem(c), from, to.getFileSystem(c), to,
            false, true, c))
          throw new java.io.IOException(
            s"graft-kv snapshot: clone copy $from -> $to failed")
      }
    KvLog.append(dfs, dest, adds = info.files.map(_._1), removes = Nil,
      compact = true,
      stats = info.files.collect { case (n, Some(st)) => n -> st }.toMap)
  }

  /** Roll the table back to `name`'s state by publishing one checkpoint
    * entry (adds = the snapshot set, removes = live \ snapshot). Every
    * file the snapshot references must still exist — guaranteed while the
    * snapshot exists, since vacuum skips referenced files. Returns the
    * published seq. The restore is itself just another version: a
    * pre-restore read (or another snapshot) can roll forward again.
    */
  def restore(spark: SparkSession, path: String, name: String): Long = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val info = get(fs, dir, name).getOrElse(throw new IllegalArgumentException(
      s"graft-kv snapshot: no snapshot '$name' on $path"))
    val missing = info.files.map(_._1).filterNot(n => fs.exists(new Path(dir, n)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"graft-kv snapshot: '$name' references ${missing.length} missing " +
        s"file(s) (${missing.take(3).mkString(", ")}…) — was it created " +
        "before a manual delete, or copied from another table?")
    // The disable-table contract HBase's restore_snapshot enforces: a
    // restore REWRITES HISTORY (floor jumps to its own seq), so any
    // registered tail's position becomes unreplayable and — worse — the
    // removed segments become vacuum-eligible despite the registration
    // that is documented to gate reclamation. Refuse loudly; the operator
    // drops dead tails (DropTail) or stops live pipes first.
    val marks = KvLog.tailPositions(fs, dir)
    require(marks.isEmpty,
      s"graft-kv snapshot: cannot restore '$name' on $path while tails are " +
        s"registered (${marks.keys.toSeq.sorted.mkString(", ")}) — a restore " +
        "rewrites history past their positions; stop the pipes or DropTail " +
        "first (the disable-table contract of restore_snapshot)")
    val snapNames = info.files.map(_._1)
    val snapSet = snapNames.toSet
    val entryStats = info.files.collect { case (n, Some(st)) => n -> st }.toMap
    var attempt = 0
    while (true) {
      // Restore stages nothing — every attempt recomputes from the current
      // log, so ANY interleaved commit (append, compaction, another
      // restore) is absorbed by recomputation, not adjudication.
      val version = KvLog.live(fs, dir)
      val expect = version.seq + 1
      val removes = version.names.filterNot(snapSet)
      val pending = KvLog.removalTimes(fs, dir)
        .filter { case (n, _) => fs.exists(new Path(dir, n)) }
      // The snapshot pinned the salt layout its files were written under;
      // when the table's layout has since changed (a [[KvResalt]]), the
      // restore entry must DECLARE the pinned layout — it is re-publishing
      // old-layout files, and a reader resolving the current declaration
      // over them would strip and expand wrongly. Same atomicity as
      // resalt: hint first, declaration on the entry, property after.
      val declaring: Option[Int] =
        if (KvSalt.resolveAt(fs, dir, None) != info.salt)
          Some(info.salt.getOrElse(0))
        else None
      declaring.foreach(_ => KvSalt.declare(fs, dir, expect))
      try {
        val seq = KvLog.append(fs, dir, adds = snapNames, removes = removes,
          compact = true, expectSeq = Some(expect), floor = Some(expect),
          stats = entryStats, carriedRemovals = pending,
          saltDecl = declaring)
        declaring.foreach(d => KvSalt.recordLayoutProperty(fs, dir,
          if (d == 0) None else Some(d)))
        return seq
      } catch {
        case e: KvLog.ConcurrentCommitException =>
          declaring.foreach(_ => KvSalt.undeclare(fs, dir, expect))
          attempt += 1
          if (attempt >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable: restore loop returns")
  }
}
