package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** ONE read's table version — the "one read, one version" unit of the
  * [[KvLog]] contract. Resolved once, when the scan builder is made, and
  * the only source every planning step of the read consults: the
  * builder's aggregate gates, [[KvStatsScan]], [[KvScan]] and the
  * row-level group scan. It pins:
  *  - `seq`: the version read — a snapshot's seq, a named `asOf`, a CDC
  *    span's end, or the plan-time latest. A commit landing after the
  *    builder is made is not part of this read, and a file it retires
  *    stays on disk until vacuum's grace;
  *  - `salt`: the bucket count the version's files store keys under, at
  *    that seq ([[KvSalt.resolveAt]]); None when unsalted, or when a CDC
  *    span crosses a salt declaration (`mixedSalt`): each file then
  *    strips under its own entry's layout ([[saltWidthAt]]);
  *  - `files`: the version's files, read on first use and then kept —
  *    the one read-set function, for the snapshot, log-less listing,
  *    time-travel, current and CDC cases alike.
  */
private[sources] final class KvReadVersion private (
    val table: Path, fs: FileSystem, logged: Boolean,
    /** The user-named version (`asOfSeq`/`asOfTime`); a stream refuses it. */
    val asOf: Option[Long],
    /** A CDC span's start: the read is a change feed, not a state view. */
    val since: Option[Long],
    val snapshot: Option[String],
    snapshotInfo: Option[KvSnapshot.Info],
    val seq: Long,
    val salt: Option[Int],
    /** A mixed span's declarations, oldest first, and its layout at `since`. */
    spanDecls: Seq[(Long, Option[Int])],
    spanBase: Option[Int]) {

  def mixedSalt: Boolean = spanDecls.nonEmpty

  /** A plain current read: no named version, span or snapshot. */
  def isCurrent: Boolean = asOf.isEmpty && since.isEmpty && snapshot.isEmpty

  lazy val files: Seq[KvLog.LiveFile] = snapshot match {
    case Some(name) =>
      // A named snapshot plans from its own manifest — no log replay, which
      // is what lets snapshots outlive log truncation.
      snapshotInfo.getOrElse(throw new IllegalArgumentException(
        s"graft-kv: no snapshot '$name' on $table"))
        .files.map { case (n, st) => KvLog.LiveFile(n, seq, st) }
    case None if !logged =>
      if (since.isDefined) throw new IllegalArgumentException(
        s"graft-kv: sinceSeq incremental reads require a manifest log, and " +
          s"$table has none (legacy/externally-staged directory)")
      if (asOf.isDefined) throw new IllegalArgumentException(
        s"graft-kv: asOfSeq time travel requires a manifest log, and $table " +
          "has none (legacy/externally-staged directory — versions were never recorded)")
      fs.listStatus(table).map(_.getPath.getName)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .sorted.toSeq.map(KvLog.LiveFile(_, -1L, None))
    case None => since match {
      case Some(s) => KvLog.changes(fs, table, s, seq).files
      case None if asOf.isEmpty && seq < 0 => Nil // nothing committed yet
      case None => KvLog.live(fs, table, Some(seq)).files
    }
  }

  /** The salt-prefix width of a file its entry `fileSeq` committed. */
  def saltWidthAt(fileSeq: Long): Int = {
    val layout =
      if (!mixedSalt) salt
      else spanDecls.takeWhile(_._1 <= fileSeq).lastOption.fold(spanBase)(_._2)
    if (layout.isDefined) KvSalt.Width else 0
  }
}

private[sources] object KvReadVersion {

  /** What a read with no version options reads. */
  def current(path: String, conf: Configuration): KvReadVersion =
    resolve(path, conf, None, None, None, None)

  /** Resolve the version a read's options name. `saltBuckets` is the
    * reader option declaring the table's bucket count; a table that
    * RECORDS its count ([[KvSalt.saltedWrite]], the HBase SALT_BUCKETS
    * attribute) is read under the recorded value, and an option that
    * contradicts it is refused — a wrong bucket count doesn't error, it
    * silently mis-routes point lookups.
    */
  def resolve(path: String, conf: Configuration, asOf: Option[Long],
      since: Option[Long], snapshot: Option[String],
      saltBuckets: Option[Int]): KvReadVersion = {
    val table = new Path(path)
    val fs = table.getFileSystem(conf)
    val logged = KvLog.exists(fs, table)
    val info = snapshot.flatMap(KvSnapshot.get(fs, table, _))
    // An unnamed version — a current read, or a CDC span without asOfSeq —
    // pins the plan-time latest: the crossing guard, the salt resolution
    // and the scan all see the SAME version. With separate reads, a
    // resalt publishing in between would flip the layout over files
    // written under the old one: silently wrong rows.
    val seq = info.map(_.seq).orElse(asOf)
      .getOrElse(if (logged) KvLog.latestSeq(fs, table) else -1L)
    // A CDC span that CROSSES a salt declaration reads MIXED (r19): each
    // file strips under the layout at its own entry seq, so every emitted
    // rowKey is logical. The price is key-space pushdown — no single
    // bucket count rewrites a rowKey predicate for both sides ([[KvScan]]).
    // A declaration at exactly since+1 does not mix layouts: the declaring
    // entry is a compact checkpoint, and everything after it is the new one.
    val decls = since.fold(Seq.empty[(Long, Option[Int])])(
      KvSalt.declsIn(fs, table, _, seq))
    val mixed = since.exists(s => decls.exists(_._1 != s + 1))
    // A time-travel read resolves the layout of the version it reads —
    // after a [[KvResalt]], a pre-resalt seq strips and expands under the
    // OLD salt, which is what those files store — and a snapshot read
    // takes the layout its manifest pinned at create time.
    val recorded =
      if (mixed) None
      else info match {
        case Some(i) => i.salt
        case None => KvSalt.resolveAt(fs, table,
          if (snapshot.isDefined) None else Some(seq))
      }
    (saltBuckets, recorded) match {
      case (Some(a), Some(b)) => require(a == b,
        s"graft-kv: saltBuckets option $a contradicts the table's recorded " +
          s"salt property $b at $path")
      case _ => ()
    }
    require(!mixed || saltBuckets.isEmpty,
      s"graft-kv: the span crosses a salt layout change at $path — no " +
        "single saltBuckets value describes it; drop the option (the scan " +
        "resolves each segment's layout itself)")
    new KvReadVersion(table, fs, logged, asOf, since, snapshot, info, seq,
      if (mixed) None else saltBuckets.orElse(recorded),
      if (mixed) decls else Nil,
      if (mixed) KvSalt.resolveAt(fs, table, since) else None)
  }
}
