package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Micro-batch streaming over a `graft-kv` table directory — the HBase
  * WAL-tail / replication analog (an HBase replication peer consumes the
  * write-ahead log in sequence-id order; SURVEY §2.1's scan surface covers
  * the at-rest table, this covers the table's CHANGE stream).
  *
  * Two admission modes, chosen by whether the table carries a manifest log
  * ([[KvLog]] — every `graft-kv` sink commit writes one):
  *
  *  - **Log mode** (manifest present): the offset is a position in the
  *    segment log — `(entry seq, files consumed within that entry)` — and a
  *    micro-batch admits files by probing entries `seq, seq+1, …` with one
  *    `getFileStatus` each. Cost per batch is O(new commits), with ZERO
  *    directory listings (KvStreamSpec pins this with a counting
  *    filesystem); delivery order is COMMIT order, atomically published by
  *    the entry rename, so neither file-name conventions nor
  *    listing-visibility order carry correctness weight. Entries are
  *    immutable, so re-planning a recovered batch re-reads the same files.
  *    A position below the table's compaction FLOOR fails loudly — those
  *    segments were merged away (the Kafka log-start-offset contract). A
  *    REGISTERED tail (`tailId` option) never gets there: it records its
  *    committed position after every batch and [[KvCompactor]] merges only
  *    below the slowest mark, as HBase gates WAL cleanup on replication
  *    peers. A fresh tail starts at the compaction HORIZON, receiving the
  *    checkpoint entry's complete live set ([[initialOffset]]).
  *
  *  - **Legacy mode** (no manifest: externally-staged directories): the
  *    round-7 behavior — the offset is the last consumed file NAME and each
  *    batch lists the directory and takes names above the watermark.
  *    Appenders must seal lexicographically increasing names, and the
  *    filesystem must list with strong consistency (a later-named file must
  *    never be visible while an earlier one is still in flight) — both
  *    assumptions the manifest log exists to remove. A warning is logged
  *    once per stream.
  *
  * Scale/architecture notes:
  *  - `SupportsTriggerAvailableNow`: the end position is pinned ONCE at
  *    query start, so a bounded replay ("catch up to now, then stop") is
  *    deterministic even while writers keep appending.
  *  - Admission control (`maxFilesPerBatch` / `maxBytesPerBatch` options):
  *    bounds per-batch work like the file source's `maxFilesPerTrigger` —
  *    and in log mode it splits WITHIN a large commit's entry (one
  *    bulk-load commit can seal thousands of region files; the tail still
  *    paces them). The BYTE cap is the one that matters when epoch sizes
  *    vary (a backfill commit can be 1000× a steady epoch): sizes come
  *    from the entries' manifest stats, so byte admission costs no
  *    filesystem probes in log mode; both caps admit at least one file per
  *    batch so progress never stalls on an oversized segment.
  *  - The batch scan's pushdown surface is REUSED verbatim: family /
  *    qualifier / ts predicates reach the parquet record reader, and rowKey
  *    bounds prune whole segments from a batch's partition list (a
  *    replication consumer that only watches a key range never schedules
  *    the other regions' segments).
  *
  * Offsets are exclusive-start / inclusive-end: a batch covers files
  * strictly after `start` up to and including `end`.
  */
private[sources] class KvTailStream(
    path: String, required: StructType, pushed: Array[Filter],
    maxFilesPerBatch: Option[Int], sconf: SerializableConfiguration,
    tailId: Option[String] = None,
    maxBytesPerBatch: Option[Long] = None,
    saltLen: Int = 0,
    sinceSeq: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow with Logging {

  private def conf: Configuration = sconf.value
  private val tableDir = new Path(path)
  private def fs = tableDir.getFileSystem(conf)

  /** Newest PUBLISHED salt-declaration seq at stream construction (-1 =
    * none): the layout this stream's salt stripping and pushed-filter
    * expansion were resolved under. [[advance]] fails loudly on any
    * NEWER declaration — files past it are in a layout this stream
    * cannot interpret. PUBLISHED matters: a hinted-but-unpublished seq
    * (a resalt mid-declare) was not part of this stream's resolution, so
    * adopting it here would let the stream sail past that declaration
    * when it lands. Probe cost: absent-file for never-resalted tables.
    */
  private val declSeqAtStart: Long =
    KvSalt.newestPublishedDecl(fs, tableDir)

  // ------------------------------------------------------------ log mode

  /** Position in the segment log: entries `< seq` fully consumed, first
    * `idx` files of entry `seq` consumed. `idx == InitIdx` (-1) is the
    * FRESH-START sentinel: nothing of entry `seq` consumed AND, when the
    * entry is a compaction checkpoint, its adds (the complete live set) are
    * this stream's starting state and ARE deliverable. A tail that ADVANCED
    * to a compact entry sits at `idx == 0` and skips its adds — they were
    * already delivered by the original appends — so the sentinel is what
    * distinguishes "begin from the checkpoint" from "passed through it",
    * and a fresh tail of a compacted table starts correctly at the horizon
    * instead of failing below it.
    */
  private case class LogPos(seq: Long, idx: Int) {
    def encode: String = s"log:$seq:$idx"
  }

  private val InitIdx = -1

  private def decodePos(watermark: String): Option[LogPos] =
    if (!watermark.startsWith("log:")) None
    else watermark.split(":") match {
      case Array(_, s, i) => Some(LogPos(s.toLong, i.toInt))
      case _ => throw new IllegalStateException(
        s"graft-kv tail: malformed log offset '$watermark'")
    }

  /** Log entries are IMMUTABLE once published (temp-write + rename), so the
    * stream caches every entry it has read: each micro-batch otherwise pays
    * the probe walk twice — once in [[latestOffset]]'s admission and again
    * in [[planInputPartitions]]' re-walk of the same span — and a recovered
    * batch a third time. Only hits are cached (a missing seq may be
    * published later); [[commit]] evicts entries behind the committed
    * position, so the cache is bounded by the in-flight window, not the
    * stream's lifetime.
    */
  private val entryCache = new java.util.concurrent.ConcurrentHashMap[Long, KvLog.Entry]()

  private def readEntry(seq: Long): Option[KvLog.Entry] = {
    val cached = entryCache.get(seq)
    if (cached != null) Some(cached)
    else {
      val e = KvLog.read(fs, tableDir, seq)
      e.foreach(entryCache.put(seq, _))
      e
    }
  }

  /** The files of `entry` visible from position `cur`: a compact entry's
    * adds are delivered only when the stream STARTED at it (sentinel, or
    * resuming mid-delivery at `idx > 0`), never when it advanced past —
    * but a RETENTION compaction advanced past delivers its DROP-RECORD
    * files ([[KvLog.Entry.dropFiles]]): the tail is a change feed, the
    * drops are changes, and the records ship as exact-version delete
    * markers ([[KvDelete.VersionMarkerPrefix]]) the consumer absorbs
    * like any other replicated marker cell (the WAL/replication-peer
    * contract — deletes must replicate). Position semantics stay
    * unambiguous because [[advance]] admits a drop entry ATOMICALLY
    * (never parks at `(seq, idx > 0)` inside one), so `idx > 0` on a
    * compact entry still means "fresh-start mid-delivery of the adds".
    */
  private def visibleAdds(entry: KvLog.Entry, cur: LogPos): Seq[String] =
    if (!entry.compact || cur.idx != 0) entry.adds
    else entry.dropFiles // advanced past: the drop feed (Nil for plain merges)

  /** One admitted file's size: the entry's manifest stat (free), or a
    * `getFileStatus` probe for the stat-less seed entry of a log-less
    * external directory.
    */
  private def fileSize(entry: KvLog.Entry, name: String): Long =
    entry.stats.get(name).map(_.bytes)
      .getOrElse(fs.getFileStatus(new Path(tableDir, name)).getLen)

  /** Walk log entries from `pos`, collecting file names until the FILE or
    * BYTE cap fills (always at least one file, so an oversized segment
    * never stalls the stream). Probes sequentially; O(entries visited), no
    * listing. Returns the admitted files and the advanced position.
    */
  private def advance(pos: LogPos, maxFiles: Int, maxBytes: Long,
      capSeq: Long): (Seq[Path], LogPos) = {
    val fl = KvLog.floor(fs, tableDir)
    // Below-floor offsets refuse UNLESS a named snapshot anchors the
    // span (r18, [[KvLog.changes]] doc): the anchor stops
    // truncation and vacuum above its seq, so a stream whose checkpoint
    // fell behind the floor during an outage resumes exactly when its
    // operator pinned an anchor — admission probes each entry's files
    // like any other batch, and a file vacuumed BEFORE the anchor
    // existed fails that batch's read loudly, never silently skips.
    if (pos.seq < fl &&
        !KvSnapshot.list(fs, tableDir).exists(_.seq < pos.seq))
      throw new IllegalStateException(
        s"graft-kv tail: offset at log entry ${pos.seq} is behind the compaction " +
          s"floor $fl of $path — the segments were merged away. Register the " +
          "tail (tailId option) so compaction parks at its position; to " +
          "recover, restart from a fresh checkpoint — at the horizon (full " +
          "current state), or with .option(\"sinceSeq\", <last consumed " +
          "seq>) to resume exactly when that span is still above the floor. " +
          "A named snapshot at or before the consumed seq keeps such a " +
          "span durable (snapshots stop log truncation and file GC above " +
          "their seq).")
    val files = Seq.newBuilder[Path]
    var taken = 0
    var bytes = 0L
    var cur = pos
    // An anchored below-floor resume tolerates no silent entry gaps: a
    // seq truncated BEFORE the anchor existed would otherwise park the
    // stream forever at the hole (a missing entry normally just means
    // "caught up"). Loud here, like [[KvLog.changes]]' gap check.
    def readChecked(seq: Long): Option[KvLog.Entry] = {
      val e = readEntry(seq)
      if (e.isEmpty && seq < fl) throw new IllegalStateException(
        s"graft-kv tail: log entry $seq of $path was truncated before the " +
          "anchoring snapshot existed — the span is not reconstructible; " +
          "restart from a fresh checkpoint (horizon or sinceSeq).")
      e
    }
    var entry = readChecked(cur.seq)
    var full = false
    while (entry.isDefined && cur.seq <= capSeq && !full) {
      // A salt-layout declaration NEWER than the one this stream resolved
      // at construction ([[KvSalt]] declarations — a resalt or a
      // layout-restoring restore): every file from here on stores keys
      // this stream would strip and filter under the wrong salt. The
      // batch CDC path refuses such spans at plan time; a stream only
      // learns mid-flight, so it fails loudly HERE — before admitting
      // anything past the declaration — and a restart re-resolves.
      // (Registered tails never hit this: resalt refuses while they
      // exist. This is the unregistered tail's loud failure.)
      if (entry.get.saltDecl.isDefined && cur.seq > declSeqAtStart)
        throw new IllegalStateException(
          s"graft-kv tail: the salt layout of $path changed at log seq " +
            s"${cur.seq} (salt declaration) — this stream resolved the " +
            "previous layout and cannot interpret newer files; restart " +
            "the query to resume under the new layout")
      val adds = visibleAdds(entry.get, cur)
      if (entry.get.compact && cur.idx == 0 && adds.nonEmpty) {
        // Advanced-past RETENTION entry: `adds` are its drop-record
        // files, admitted ATOMICALLY — parking mid-list would leave a
        // `(seq, idx > 0)` position indistinguishable from a
        // fresh-start mid-delivery of the entry's (different, longer)
        // adds list. If the batch already holds files and the records
        // don't fit its caps, end it AT the entry boundary (`(seq, 0)`
        // — arrived, nothing consumed) and the next batch admits them
        // under a fresh budget; a batch that starts here always admits
        // them all (the "at least one file" rule, extended to "never
        // split a drop entry" — drop sets are retention-pass-sized, not
        // table-sized).
        val sizes =
          if (maxBytes == Long.MaxValue) adds.map(_ => 0L)
          else adds.map(fileSize(entry.get, _))
        if (taken > 0 && (taken + adds.length > maxFiles ||
            bytes + sizes.sum > maxBytes)) {
          full = true // park at (seq, 0); resumes here next batch
        } else {
          adds.zip(sizes).foreach { case (n, s) =>
            files += new Path(tableDir, n)
            taken += 1
            bytes += s
          }
          cur = LogPos(cur.seq + 1, 0)
          entry = if (cur.seq <= capSeq) readChecked(cur.seq) else None
        }
      } else {
      var i = math.max(cur.idx, 0)
      while (i < adds.length && !full) {
        val size =
          if (maxBytes == Long.MaxValue) 0L else fileSize(entry.get, adds(i))
        if (taken >= maxFiles || (taken > 0 && bytes + size > maxBytes)) {
          full = true
        } else {
          files += new Path(tableDir, adds(i))
          taken += 1
          bytes += size
          i += 1
        }
      }
      if (full) {
        cur = LogPos(cur.seq, i) // capped mid-entry (i == length resumes clean)
      } else {
        cur = LogPos(cur.seq + 1, 0)
        entry = if (cur.seq <= capSeq) readChecked(cur.seq) else None
      }
      }
    }
    (files.result(), cur)
  }

  // --------------------------------------------------------- legacy mode

  @volatile private var warnedLegacy = false

  /** Region-file names after `watermark`, name-sorted (segment order). */
  private def segmentsAfter(watermark: String): Seq[Path] = {
    if (!warnedLegacy) {
      warnedLegacy = true
      logWarning(s"graft-kv tail of $path has no manifest log: falling back " +
        "to directory-listing admission (O(all segments) per batch). This " +
        "requires lexicographically increasing segment names and strongly " +
        "consistent listing; tables written by the graft-kv sink carry a " +
        "manifest and need neither.")
    }
    fs.listStatus(tableDir).map(_.getPath)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .filter(_.getName > watermark)
      .sortBy(_.getName).toSeq
  }

  // ---------------------------------------------------------- offset API

  /** End pinned by Trigger.AvailableNow at query start: last log seq in log
    * mode (one `_latest` read + O(1) probes), last segment name in legacy.
    * The value is MODE-TAGGED (`log:` / `name:`): a checkpointed offset of
    * one mode meeting a cap pinned in the other (a `_log` removed or
    * created across a restart) must fail loudly, not silently parse a file
    * name as a seq or compare a seq against names.
    */
  @volatile private var availableNowEnd: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(
      if (KvLog.exists(fs, tableDir)) s"log:${KvLog.latestSeq(fs, tableDir)}"
      else s"name:${segmentsAfter("").lastOption.fold("")(_.getName)}")

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerBatch.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerBatch.map(ReadLimit.maxBytes(_)).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  private def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
    case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
    case x => Seq(x)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[KvWalOffset].watermark
    val ls = flatten(limit)
    val maxFiles = ls.collectFirst { case m: ReadMaxFiles => m.maxFiles() }
      .getOrElse(Int.MaxValue)
    val maxBytes = ls.collectFirst { case m: ReadMaxBytes => m.maxBytes() }
      .getOrElse(Long.MaxValue)
    decodePos(from) match {
      case Some(pos) =>
        val cap = availableNowEnd match {
          case Some(v) if v.startsWith("log:") => v.stripPrefix("log:").toLong
          case Some(v) => throw new IllegalStateException(
            s"graft-kv tail: log-mode offset '$from' but the AvailableNow cap " +
              s"'$v' was pinned in listing mode — was $path's _log removed " +
              "mid-stream? Restart from a fresh checkpoint.")
          case None => Long.MaxValue
        }
        val (files, next) = advance(pos, maxFiles, maxBytes, cap)
        if (files.isEmpty) start else KvWalOffset(next.encode)
      case None =>
        val pending = availableNowEnd match {
          case Some(v) if v.startsWith("name:") =>
            val capName = v.stripPrefix("name:")
            segmentsAfter(from).filter(_.getName <= capName)
          case Some(v) => throw new IllegalStateException(
            s"graft-kv tail: listing-mode offset '$from' but the AvailableNow " +
              s"cap '$v' was pinned in log mode — a checkpoint from before " +
              s"$path carried a manifest cannot resume against it. Restart " +
              "from a fresh checkpoint.")
          case None => segmentsAfter(from)
        }
        // Legacy byte admission pays one probe per admitted file — the
        // listing mode is O(all segments) per batch anyway.
        val taken =
          if (maxBytes == Long.MaxValue) pending.take(maxFiles)
          else {
            var bytes = 0L
            pending.take(maxFiles).takeWhile { p =>
              val sz = fs.getFileStatus(p).getLen
              val fits = bytes == 0L || bytes + sz <= maxBytes
              if (fits) bytes += sz
              fits
            }
          }
        if (taken.isEmpty) start else KvWalOffset(taken.last.getName)
    }
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "graft-kv tail uses admission control; latestOffset(start, limit) is the entry point")

  /** Files in `(start, end]`, region-pruned by pushed rowKey bounds the
    * same way the batch scan prunes — per batch, because each batch plans
    * its own partition list, and from the ENTRIES' manifest stats (a
    * footer open per file per batch would be the object-store round-trip
    * the log exists to avoid; only stat-less legacy entries pay it). Log
    * entries are immutable, so a recovered batch re-plans the exact same
    * file set.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[KvWalOffset].watermark
    val hi = end.asInstanceOf[KvWalOffset].watermark
    val files: Seq[(Path, Option[KvLog.FileStat])] =
      (decodePos(lo), decodePos(hi)) match {
        case (Some(from), Some(to)) => advanceTo(from, to)._1
        case _ => segmentsAfter(lo).filter(_.getName <= hi).map((_, None))
      }
    val bounds = KvFilters.rowKeyIntervalSets(pushed)
    val kept =
      if (bounds.isEmpty) files
      else files.filter { case (f, stat) =>
        stat.flatMap(s => s.minKey.zip(s.maxKey))
          .orElse(KvFilters.fileRowKeyRange(f, conf)) match {
          case Some((kLo, kHi)) => KvFilters.keepsFile(bounds, kLo, kHi)
          case None => true
        }
      }
    kept.map { case (f, _) => KvFilePartition(f.toString) }.toArray
  }

  /** Files (with their entries' stats) strictly between two log positions
    * (exclusive start, inclusive end — the batch contract).
    */
  private def advanceTo(from: LogPos, to: LogPos)
      : (Seq[(Path, Option[KvLog.FileStat])], LogPos) = {
    val files = Seq.newBuilder[(Path, Option[KvLog.FileStat])]
    var cur = from
    while (cur.seq < to.seq || (cur.seq == to.seq && cur.idx < to.idx)) {
      val entry = readEntry(cur.seq).getOrElse(
        throw new IllegalStateException(
          s"graft-kv tail: log entry ${cur.seq} of $path vanished mid-plan"))
      val adds = visibleAdds(entry, cur)
      val start = math.max(cur.idx, 0)
      val until = if (cur.seq == to.seq) to.idx else adds.length
      files ++= adds.slice(start, until)
        .map(n => (new Path(tableDir, n), entry.stats.get(n)))
      cur = if (until >= adds.length && cur.seq < to.seq) LogPos(cur.seq + 1, 0)
            else LogPos(cur.seq, until)
      if (cur.seq == to.seq && cur.idx >= to.idx) return (files.result(), cur)
    }
    (files.result(), cur)
  }

  // Same direct-to-InternalRow reader as the batch scan: filter-only
  // columns materialized for the record filter, not emitted.
  override def createReaderFactory(): PartitionReaderFactory = {
    val filterCols = pushed.toSeq.flatMap(_.references).distinct
    val projNames = (required.fieldNames ++ filterCols).distinct.toSeq
    KvReaderFactory(projNames, required.fieldNames.toSeq,
      KvFilters.toParquet(pushed), KvScanBuilder.broadcastConf(sconf),
      saltLen = saltLen)
  }

  /** A fresh tail starts at the compaction HORIZON when one exists (the
    * compact entry's adds are the live set at that point, delivered via the
    * fresh-start sentinel), at entry 0 otherwise.
    *
    * `sinceSeq` overrides the start: the tail resumes RIGHT AFTER that
    * log seq — the streaming twin of the batch CDC read, and the recovery
    * bridge for a pipeline whose SPARK checkpoint was lost or truncated
    * while its own sink knows the last commit it consumed (the tail
    * registration mark, a landed `_latest`, an app-level watermark).
    * Starting at `(sinceSeq+1, idx 0)` means: entries `<= sinceSeq`
    * consumed, a compact entry at `sinceSeq+1` delivers nothing (its adds
    * republish already-consumed data — `visibleAdds`), so the resumed
    * stream ships exactly the cells committed after `sinceSeq` — no
    * duplicates, no gaps. A span that dips below the compaction FLOOR
    * still fails loudly in [[advance]] (those segments were merged away;
    * the change set is not reconstructible — re-baseline instead). Only
    * consulted for a FRESH checkpoint: a restart with an intact
    * checkpoint keeps its own offset, and the option is then inert.
    */
  override def initialOffset(): Offset =
    if (KvLog.exists(fs, tableDir)) {
      sinceSeq match {
        case Some(s) =>
          val latest = KvLog.latestSeq(fs, tableDir)
          require(s >= -1 && s <= latest,
            s"graft-kv tail: sinceSeq $s is outside $path's log (latest " +
              s"$latest) — the resume position must name a consumed commit")
          KvWalOffset(LogPos(s + 1, 0).encode)
        case None =>
          val hz = KvLog.horizon(fs, tableDir)
          KvWalOffset(LogPos(math.max(hz, 0L), if (hz >= 0) InitIdx else 0).encode)
      }
    } else {
      require(sinceSeq.isEmpty,
        s"graft-kv tail: sinceSeq names a manifest-log position, but $path " +
          "carries no log (legacy listing mode)")
      KvWalOffset("")
    }

  override def deserializeOffset(json: String): Offset = KvWalOffset(json)

  /** A REGISTERED tail (`tailId` option) records its committed log position
    * after every batch — the replication-peer progress mark [[KvCompactor]]
    * parks on, so compaction can never merge away segments the tail still
    * needs. Unregistered tails record nothing (no per-batch write). Either
    * way, cached entries behind the committed position are evicted — no
    * later batch can plan below its start offset.
    */
  override def commit(end: Offset): Unit =
    decodePos(end.asInstanceOf[KvWalOffset].watermark).foreach { pos =>
      tailId.foreach(KvLog.recordTail(fs, tableDir, _, pos.seq))
      entryCache.keySet.removeIf(_ < pos.seq)
    }

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftKvTail path=$path pushed=[${pushed.mkString(", ")}]"
}

/** The tail's offset: a constant-size watermark — `log:<seq>:<idx>` (log
  * mode: position in the segment manifest) or the last consumed segment
  * name (legacy listing mode). `json()` is the raw string — the offset log
  * stores it verbatim and [[KvTailStream.deserializeOffset]] restores it.
  */
private[sources] case class KvWalOffset(watermark: String) extends Offset {
  override def json(): String = watermark
}
