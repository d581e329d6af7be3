package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The table's segment MANIFEST LOG — the WAL sequence directory of the
  * `graft-kv` connector (HBase's WAL file list + an LSM MANIFEST in one).
  *
  * Why it exists (the 100-TB argument): the tail's previous admission path
  * called `fs.listStatus` on the WHOLE table directory every micro-batch and
  * filtered names above the watermark — O(all segments) per batch, which at
  * the millions of segments a long-lived table accumulates is the dominant
  * cost on an object store and a throttling magnet. The log inverts that:
  * every sink COMMIT appends one immutable, sequence-numbered entry listing
  * the files it sealed, and a reader resumes by probing `seq+1, seq+2, …`
  * with one `getFileStatus` each — O(new commits), ZERO directory listings
  * in the steady state (KvStreamSpec counts the calls under a counting
  * filesystem to pin this).
  *
  * It is also the ATOMICITY boundary the directory never was: a listing can
  * surface a later-named file while an earlier one from the same commit is
  * still invisible (eventually-consistent stores, mid-commit reads), which
  * would silently skip data under a name watermark. An entry is written to a
  * temp name and RENAMED into place, so a commit's whole file set becomes
  * visible in one atomic step and delivery order is COMMIT order — file
  * names no longer carry any correctness weight (they were load-bearing for
  * the legacy listing mode, where batch `part-r-*` names sorted below
  * streaming `part-e*` names and could pin a watermark past future epochs).
  *
  * Layout under `<table>/_log/`:
  *  - `%020d`-named entry files, seq starting at 0, one per commit;
  *  - `_latest`: the last committed seq (an O(1) bootstrap hint — readers
  *    self-heal by probing forward, so a torn/stale `_latest` only costs
  *    extra probes, never correctness);
  *  - `_horizon`: seq of the last COMPACTION entry. A compaction entry's
  *    `adds` are the complete live file set at that point, so it doubles as
  *    a log CHECKPOINT: live-set replay starts there, and a fresh tail
  *    begins there (delivering the checkpointed live set).
  *  - `_floor`: the first seq whose segment FILES all survive on disk —
  *    below it, segments were merged away and a tail must fail loudly (the
  *    Kafka log-start-offset contract). Distinct from `_horizon` because
  *    compaction is PARTIAL under tail gating ([[KvCompactor]]): entries in
  *    `[floor, horizon)` had their files carried forward unmerged and stay
  *    replayable in place.
  *
  * Entry format (text, one directive per line after the header):
  * {{{
  *   v1 append writer=<queryId>:<epochId>     // writer tag optional
  *   v1 compact
  *   +<fileName>[\t<stat>...]                 // sealed (or live, for compact)
  *   -<fileName>                              // removed by compaction
  *   !<fileName>[\t<stat>...]                 // retention drop records (CDC side feed)
  * }}}
  *
  * Every compact entry additionally carries the PENDING REMOVALS it
  * checkpoints over (`~<fileName>\t<removedAtMs>` lines, plus a `pend`
  * header token marking the entry as carrying a complete pending set):
  * every file some EARLIER entry removed that is still awaiting vacuum,
  * with its original removal time. That makes the checkpoint a complete
  * anchor for garbage attribution — [[removalTimes]] replays from the
  * horizon instead of seq 0, and [[truncate]] may drop expired pre-floor
  * entries entirely without vacuum losing grace clocks.
  *
  * [[append]] writes only these shapes and [[read]] accepts only them: a
  * compact header without `pend`, or a `drop` header with no `!` lines,
  * is refused with an error naming the entry file.
  *
  * An add line may carry MANIFEST-LEVEL FILE STATISTICS, tab-separated
  * after the name: `r=<rows>`, `b=<bytes>`, `k=<b64(minKey)>,<b64(maxKey)>`
  * (base64 because rowKeys are arbitrary strings), `t=<minTs>,<maxTs>`.
  * They are collected by the SINK's writer tasks while streaming rows (the
  * writers see every row, so the values are exact and cost zero extra
  * I/O) and make the manifest self-sufficient for planning: region
  * pruning, LIMIT planning, pushed COUNT/MIN/MAX(ts), and maintenance
  * sizing all read the log instead of opening one parquet footer (an
  * object-store round-trip) per segment per query — the Delta/Iceberg
  * stats-in-manifest shape. Only the entry seeded from a log-less
  * external directory ([[seedFromDirIfNeeded]]) lists files without
  * stats; those degrade per-file to the footer path, never fail. Unknown
  * stat tokens are ignored on read (forward compatibility).
  *
  * The writer tag makes streaming epoch re-commits IDEMPOTENT: a recovered
  * query re-running `commit(epoch)` finds its own tag on the latest entry
  * and skips the duplicate append (an epoch replay is always of the latest
  * committed epoch — Spark checkpoints an epoch before starting the next).
  *
  * Concurrency: in-process writer threads serialize on a per-table append
  * lock (race-free by construction — the realistic local shape, one driver
  * many jobs). Cross-process committers race the seq allocation; the
  * rename-into-place write makes the race DETECTABLE (the loser's rename
  * fails → [[ConcurrentCommitException]]) and the BATCH sink retries under
  * a fresh allocation with writer-unique file names, so concurrent batch
  * appends compose like Delta's commit loop. Streaming keeps one pipe per
  * table (its exactly-once replay detection reads the latest entry's
  * writer tag); compaction rebases onto interleaved PURE APPENDS and
  * aborts only on a true conflict — an interleaved remove/compact — see
  * [[KvCompactor]]'s publish loop.
  *
  * READS name a version through two resolvers over one replay walk:
  * [[live]] (the files version V holds — the latest, or a time-travel
  * version) and [[changes]] (the files committed in a CDC span). Both
  * return one shape, [[Live]]: the seq, and per file its name,
  * attributing seq and manifest stat. The isolation contract is ONE
  * READ, ONE VERSION: a scan resolves its seq, the salt layout at that
  * seq and its file set once ([[KvReadVersion]]) and plans every step
  * from that one value, and a maintenance pass takes its expected seq
  * and its file set from one [[live]] call — a commit landing mid-read
  * is never half-seen.
  */
private[graft] object KvLog {

  /** A commit lost the seq-allocation race. Batch sink commits RETRY on
    * this (their file names are writer-unique, so only the entry append
    * needs re-running). Compaction's `expectSeq` pre-publish check throws
    * it too: [[KvCompactor]] ADJUDICATES the interleaved entries — pure
    * appends are rebased into the checkpoint (the staged merge is still
    * valid, only the entry moves), anything that removed files aborts the
    * pass (the staged layout may reference merged-away inputs).
    */
  final class ConcurrentCommitException(msg: String)
      extends IllegalStateException(msg)

  /** Per-table in-process append lock: concurrent writer THREADS of one
    * driver (the realistic local concurrency) serialize their
    * allocate+publish critical sections here, making in-JVM commits
    * race-free outright; cross-PROCESS writers still rely on the
    * exists-check + rename CAS below (atomic on HDFS-like stores) and the
    * callers' retry.
    */
  private val appendLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  val LogDirName = "_log"

  /** Caps on the recorded distinct family/qualifier sets
    * ([[FileStat.families]]): HBase tables have a handful of column
    * families and the engine's qualifier domains are schema-like, so
    * overflow means "this table's columns are data, not schema" — the
    * stat degrades to None (no pruning) rather than bloating every
    * manifest line.
    */
  val MaxDistinctFamilies = 8
  val MaxDistinctQualifiers = 32
  private val LatestName = "_latest"
  private val HorizonName = "_horizon"
  private val FloorName = "_floor"
  private val TruncName = "_trunc"
  private val TailsDirName = "_tails"

  /** Exact per-file statistics carried on a manifest add line. `rows` and
    * `bytes` are always known to a writing sink; `minKey`/`maxKey` and
    * `minTs`/`maxTs` are absent when every row had a null in that column
    * (then the file genuinely contributes nothing to a bound). `bloom` is
    * the serialized rowKey bloom ([[KvBloom]]) for point-lookup segment
    * pruning, present only for files small enough to carry one.
    */
  case class FileStat(
      rows: Long, bytes: Long,
      minKey: Option[String], maxKey: Option[String],
      minTs: Option[Long], maxTs: Option[Long],
      bloom: Option[String] = None,
      /** DELETE-MARKER rows in the file ([[KvDelete]]): scans consult it
        * to decide whether read-time masking is needed at all (0 for
        * every file ⇒ zero masking overhead — the common case) and the
        * metadata-aggregate rewrite refuses when any planned file carries
        * markers (raw counts/bounds would include masked rows). Markers
        * enter only through the sink, which counts them here, so a
        * stat-less legacy file is marker-free by construction.
        */
      tombstones: Long = 0L,
      /** DISTINCT family / qualifier values in the file (the `cf=`/`cq=`
        * tokens), recorded by the sink while they stay small
        * ([[KvLog.MaxDistinctFamilies]]/[[KvLog.MaxDistinctQualifiers]] —
        * wide tables overflow to None = unknown). Planning uses them for
        * FILE-LEVEL family/qualifier pruning (the HBase per-column-family
        * store-file analog): a `family = 'f'` scan of a table whose
        * commits separated families never even schedules the other
        * families' files. Marker-carrying files are exempt from that
        * pruning — a marker can mask cells in OTHER files, so masking
        * must always see it.
        */
      families: Option[Seq[String]] = None,
      qualifiers: Option[Seq[String]] = None)

  case class Entry(
      seq: Long, compact: Boolean, writer: Option[String],
      adds: Seq[String], removes: Seq[String],
      stats: Map[String, FileStat] = Map.empty,
      /** Pre-entry removals still awaiting vacuum, name → removal time —
        * the complete pending set on every compact entry (the `pend`
        * header token), empty on appends.
        */
      carriedRemovals: Map[String, Long] = Map.empty,
      /** SALT-LAYOUT DECLARATION (the `salt=` header token): this entry's
        * adds — and every later entry's, until a newer declaration — store
        * rowKeys under this salt layout (`Some(n)` = [[KvSalt]]-prefixed
        * with `n` buckets, `Some(0)` = unsalted). Carried IN the manifest
        * so a layout change ([[KvResalt]], snapshot restore across one) is
        * atomic with the file swap it describes — a reader that plans this
        * entry's live set necessarily sees this entry's layout, with no
        * property-file ordering window — and so time travel resolves the
        * layout of the VERSION it reads ([[KvSalt.resolveAt]]), not the
        * current one. `None` = no declaration (the `_salt` registration
        * file, if any, applies — every table that never changed layout).
        */
      saltDecl: Option[Int] = None,
      /** CONTENT-DROPPING compaction (the `drop` header token): this
        * compaction ran under a retention [[KvCompactor.CellPolicy]]
        * (ttl / versions) and PHYSICALLY REMOVED current cells (set only
        * when the pass counted a dropped cell — a declared policy that
        * expired nothing publishes a plain merge). A plain merge
        * preserves the masked logical view, so CDC reads skip compact
        * entries soundly — but a retention pass CHANGES the view, so the
        * entry must also carry the change: [[dropFiles]] record the
        * dropped coordinates as exact-version delete markers (the Delta
        * CDF delete-row shape), and change feeds ship them like any
        * other marker. A drop entry always carries drop files: [[append]]
        * refuses one without, and [[read]] refuses to parse one.
        */
      contentDrop: Boolean = false,
      /** RETENTION DROP-RECORD side files (the `!` line kind): parquet
        * files of exact-version delete markers — one cell per dropped
        * put, in the five-column cell schema with the qualifier prefixed
        * by [[KvDelete.VersionMarkerPrefix]] ("\u0000v") and the dropped
        * cell's own family / value / ts — published next to the merge
        * outputs by a retention compaction. NEVER part of the live set
        * (no reader of current state opens them): they exist solely so a
        * CDC span crossing the entry can express the drops as delete
        * records instead of refusing. Reclaimed by [[truncate]] with
        * their entry, and by vacuum when their entry was never published
        * (crash strays).
        */
      dropFiles: Seq[String] = Nil)

  private def logDir(table: Path) = new Path(table, LogDirName)
  private def entryPath(table: Path, seq: Long) =
    new Path(logDir(table), f"$seq%020d")

  def exists(fs: FileSystem, table: Path): Boolean =
    fs.exists(logDir(table))

  /** Last committed seq, -1 when the log is empty. Reads the `_latest` hint
    * then probes FORWARD until the first missing entry — a stale hint
    * (crash between entry rename and hint update) self-heals at the cost of
    * the missed probes only.
    */
  def latestSeq(fs: FileSystem, table: Path): Long = {
    val hint = readLong(fs, new Path(logDir(table), LatestName)).getOrElse(-1L)
    var seq = hint
    while (fs.exists(entryPath(table, seq + 1))) seq += 1
    seq
  }

  /** Seq of the last compaction entry, -1 when none: where live-set REPLAY
    * starts (the entry's adds are the complete live set).
    */
  def horizon(fs: FileSystem, table: Path): Long =
    readLong(fs, new Path(logDir(table), HorizonName)).getOrElse(-1L)

  /** The compaction FLOOR: the first seq whose segment FILES are all still
    * on disk. Distinct from the horizon because compaction is PARTIAL when
    * registered tails gate it ([[KvCompactor]]): the checkpoint entry
    * carries newer entries' files forward unmerged, so tail positions in
    * `[floor, horizon)` remain replayable — only positions below the floor
    * have lost segments and must fail. Full compaction writes
    * floor == horizon (the Kafka log-start-offset shape).
    */
  def floor(fs: FileSystem, table: Path): Long =
    readLong(fs, new Path(logDir(table), FloorName))
      .getOrElse(horizon(fs, table))

  /** First seq whose ENTRY still exists — 0 until [[truncate]] has run.
    * Entries below it are gone; everything that needs them (pre-floor time
    * travel, full-history audits) fails loudly instead of replaying a
    * silently incomplete prefix.
    */
  def earliestSeq(fs: FileSystem, table: Path): Long =
    readLong(fs, new Path(logDir(table), TruncName)).getOrElse(0L)

  /** TIMESTAMP → VERSION resolution (the Delta `timestampAsOf` analog):
    * the last seq whose entry PUBLISHED at or before `tMs` — entry mtimes
    * are the publish instants and commits are sequential, so they are
    * non-decreasing. O(retained log) driver-side probes; fails loudly
    * when `tMs` predates the first retained entry (that version's history
    * is truncated or never existed).
    */
  def seqAtTime(fs: FileSystem, table: Path, tMs: Long): Long = {
    val latest = latestSeq(fs, table)
    require(latest >= 0, s"graft-kv log: $table has no commits to time-travel to")
    var found = -1L
    var seq = earliestSeq(fs, table)
    var stop = false
    while (!stop && seq <= latest) {
      val mtime = try
        Some(fs.getFileStatus(entryPath(table, seq)).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
      mtime match {
        case Some(t) if t <= tMs => found = seq; seq += 1
        case Some(_) => stop = true
        case None => seq += 1 // truncated gap (defensive): keep walking
      }
    }
    if (found < 0) throw new IllegalArgumentException(
      s"graft-kv log: no version of $table published at or before " +
        s"timestamp $tMs (first retained entry is newer — truncated by log " +
        "retention, or the table did not exist yet)")
    found
  }

  /** RETENTION-BOUNDED LOG TRUNCATION — the checkpoint makes the log's
    * prefix droppable: a `pend`-carrying horizon entry is a complete
    * anchor for live-set replay, tail starts, AND garbage attribution, so
    * entries below the compaction FLOOR serve only pre-floor time travel —
    * a capability vacuum is already expiring on the same clock. Deletes
    * the expired prefix (entries older than `retentionMs`, strictly below
    * the floor, contiguous from the current start — a gap would make
    * "first retained" meaningless) and records the new start in `_trunc`.
    *
    * Returns 0 while the table has no checkpoint. Driver-side,
    * O(truncated entries), idempotent.
    */
  def truncate(fs: FileSystem, table: Path, retentionMs: Long): Int = {
    require(retentionMs >= 0, "graft-kv log: retention must be non-negative")
    if (!exists(fs, table)) return 0
    val cutoff = System.currentTimeMillis() - retentionMs
    // Writer-epoch hints ride the same retention clock: each streaming
    // query leaves one hint file forever, so a long-lived table would
    // accumulate one per query ever run against it. A hint idle past the
    // retention window cannot matter — a replay arrives on restart,
    // orders of magnitude inside any sane retention — so it is reclaimed
    // here (independent of entry truncation, which needs a checkpoint).
    val writers = new Path(logDir(table), WritersDirName)
    if (fs.exists(writers)) fs.listStatus(writers)
      .filter(st => st.isFile && st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, false): Unit)
    val h = horizon(fs, table)
    if (h < 0) return 0
    val fl = floor(fs, table)
    // NAMED SNAPSHOTS are durable CDC anchors (r18, [[changes]]):
    // entries ABOVE the oldest snapshot seq are never truncated — their
    // adds and drop files serve snapshot-anchored change spans, however
    // old — so the walk is capped at that seq. Entries at or below it
    // remain ordinary candidates (a span starts AFTER its anchor).
    val snapCap = KvSnapshot.minSeq(fs, table)
    var seq = earliestSeq(fs, table)
    var dropped = 0
    var stop = false
    while (!stop && seq < fl && snapCap.forall(seq <= _)) {
      val p = entryPath(table, seq)
      val expired = try fs.getFileStatus(p).getModificationTime < cutoff
        catch { case _: java.io.FileNotFoundException => true } // already gone
      // A SALT DECLARATION is never truncated: it is the layout authority
      // for every RETAINED entry at or above it up to the next declaration
      // ([[KvSalt.resolveAt]] walks down to the nearest one), so dropping
      // it would make a later time-travel read fall through to an older —
      // wrong — layout with no error. Contiguity is preserved by stopping
      // the walk at the first one (declarations are rare: one per layout
      // change ever).
      val entry = if (expired) read(fs, table, seq) else None
      if (!expired || entry.exists(_.saltDecl.isDefined))
        stop = true
      else {
        // Drop-record side files serve ONLY CDC spans over their entry;
        // a span reaching a truncated seq refuses on the floor/earliest
        // checks first, so the records are unreachable once the entry
        // goes — reclaim them with it.
        entry.foreach(_.dropFiles.foreach(n =>
          fs.delete(new Path(table, n), false): Unit))
        fs.delete(p, false): Unit
        dropped += 1
        seq += 1
      }
    }
    if (seq > earliestSeq(fs, table))
      writeText(fs, new Path(logDir(table), TruncName), seq.toString)
    dropped
  }

  def read(fs: FileSystem, table: Path, seq: Long): Option[Entry] = {
    val p = entryPath(table, seq)
    // Open directly and treat not-found as None: one metadata round-trip per
    // probe instead of exists + open — the probe cost the tail's admission
    // walk pays per entry, so it is halved here rather than at call sites.
    val text = try Some(readText(fs, p)) catch {
      case _: java.io.FileNotFoundException => None
    }
    text.map { t =>
      val lines = t.split("\n").toSeq.filter(_.nonEmpty)
      val header = lines.head.split(" ")
      require(header(0) == "v1", s"graft-kv log: unknown entry version in $p")
      val compact = header(1) == "compact"
      val writer = header.drop(2).collectFirst {
        case w if w.startsWith("writer=") => w.stripPrefix("writer=")
      }
      val addLines = lines.tail.collect { case l if l.startsWith("+") =>
        val toks = l.tail.split("\t")
        toks.head -> parseStat(toks.tail)
      }
      val dropLines = lines.tail.collect { case l if l.startsWith("!") =>
        val toks = l.tail.split("\t")
        toks.head -> parseStat(toks.tail)
      }
      // Shapes no writer of this engine produces are refused, not guessed
      // at: a checkpoint without its pending set cannot anchor removal
      // attribution, and a retention drop without drop records cannot be
      // expressed as a change feed.
      def refuse(what: String): Nothing = throw new IllegalStateException(
        s"graft-kv log: $p is $what, a shape this engine does not read")
      if (compact && !header.contains("pend"))
        refuse("a compact entry without its pending-removal set (`pend`)")
      if (header.contains("drop") && dropLines.isEmpty)
        refuse("a retention-drop entry without drop files")
      Entry(seq, compact, writer,
        adds = addLines.map(_._1),
        removes = lines.tail.collect { case l if l.startsWith("-") => l.tail },
        stats = (addLines ++ dropLines)
          .collect { case (n, Some(s)) => n -> s }.toMap,
        carriedRemovals = lines.tail.collect { case l if l.startsWith("~") =>
          val Array(n, t) = l.tail.split("\t", 2)
          n -> t.toLong
        }.toMap,
        saltDecl = header.drop(2).collectFirst {
          case s if s.startsWith("salt=") => s.stripPrefix("salt=").toInt
        },
        contentDrop = header.contains("drop"),
        dropFiles = dropLines.map(_._1))
    }
  }

  private[sources] def parseStat(toks: Array[String]): Option[FileStat] = {
    if (toks.isEmpty) return None
    var rows = -1L; var bytes = -1L
    var minKey: Option[String] = None; var maxKey: Option[String] = None
    var minTs: Option[Long] = None; var maxTs: Option[Long] = None
    var bloom: Option[String] = None
    var tomb = 0L
    var families: Option[Seq[String]] = None
    var qualifiers: Option[Seq[String]] = None
    val b64 = java.util.Base64.getDecoder
    toks.foreach {
      case t if t.startsWith("r=") => rows = t.drop(2).toLong
      case t if t.startsWith("b=") => bytes = t.drop(2).toLong
      case t if t.startsWith("k=") =>
        val Array(lo, hi) = t.drop(2).split(",", 2)
        minKey = Some(new String(b64.decode(lo), StandardCharsets.UTF_8))
        maxKey = Some(new String(b64.decode(hi), StandardCharsets.UTF_8))
      case t if t.startsWith("t=") =>
        val Array(lo, hi) = t.drop(2).split(",", 2)
        minTs = Some(lo.toLong); maxTs = Some(hi.toLong)
      case t if t.startsWith("f=") => bloom = Some(t.drop(2))
      case t if t.startsWith("d=") => tomb = t.drop(2).toLong
      case t if t.startsWith("cf=") =>
        families = Some(t.drop(3).split(",").toSeq
          .map(v => new String(b64.decode(v), StandardCharsets.UTF_8)))
      case t if t.startsWith("cq=") =>
        qualifiers = Some(t.drop(3).split(",").toSeq
          .map(v => new String(b64.decode(v), StandardCharsets.UTF_8)))
      case _ => () // unknown stat token: ignore (forward compatibility)
    }
    if (rows < 0 || bytes < 0) None // r= and b= anchor a well-formed stat
    else Some(FileStat(rows, bytes, minKey, maxKey, minTs, maxTs, bloom, tomb,
      families, qualifiers))
  }

  private[sources] def statSuffix(s: FileStat): String = {
    val b64 = java.util.Base64.getEncoder
    def enc(v: String) = b64.encodeToString(v.getBytes(StandardCharsets.UTF_8))
    val k = (s.minKey, s.maxKey) match {
      case (Some(lo), Some(hi)) => s"\tk=${enc(lo)},${enc(hi)}"
      case _ => ""
    }
    val t = (s.minTs, s.maxTs) match {
      case (Some(lo), Some(hi)) => s"\tt=$lo,$hi"
      case _ => ""
    }
    val f = s.bloom.fold("")(tok => s"\tf=$tok")
    val d = if (s.tombstones > 0) s"\td=${s.tombstones}" else ""
    val cf = s.families.fold("")(vs =>
      s"\tcf=${vs.sorted.map(enc).mkString(",")}")
    val cq = s.qualifiers.fold("")(vs =>
      s"\tcq=${vs.sorted.map(enc).mkString(",")}")
    s"\tr=${s.rows}\tb=${s.bytes}$k$t$f$d$cf$cq"
  }

  /** Append an entry at `latest + 1` (temp-write + rename = atomic publish,
    * then the `_latest` hint). Returns the allocated seq. When `writer` is
    * set and already tags the latest entry, the append is a streaming epoch
    * REPLAY and is skipped (returns the existing seq).
    *
    * A compact entry always records `carriedRemovals` as its complete
    * pending set (empty when nothing awaits vacuum); an append entry
    * carries none. A `contentDrop` entry must be a compact one that
    * references its drop files — the only shapes [[read]] accepts.
    */
  def append(fs: FileSystem, table: Path, adds: Seq[String],
      removes: Seq[String] = Nil, compact: Boolean = false,
      writer: Option[String] = None, expectSeq: Option[Long] = None,
      floor: Option[Long] = None,
      stats: Map[String, FileStat] = Map.empty,
      carriedRemovals: Map[String, Long] = Map.empty,
      saltDecl: Option[Int] = None,
      layoutExpect: Option[Option[Int]] = None,
      contentDrop: Boolean = false,
      dropFiles: Seq[String] = Nil): Long = {
    require(compact || carriedRemovals.isEmpty,
      s"graft-kv log: only a compact entry carries pending removals ($table)")
    require(!contentDrop || (compact && dropFiles.nonEmpty),
      s"graft-kv log: a retention-drop entry on $table must be a compact " +
        "entry that references its drop files")
    appendLocks.computeIfAbsent(table.toString, _ => new Object).synchronized {
      appendLocked(fs, table, adds, removes, compact, writer, expectSeq,
        floor, stats, carriedRemovals, saltDecl, layoutExpect, contentDrop,
        dropFiles)
    }
  }

  private def appendLocked(fs: FileSystem, table: Path, adds: Seq[String],
      removes: Seq[String], compact: Boolean,
      writer: Option[String], expectSeq: Option[Long],
      floor: Option[Long],
      stats: Map[String, FileStat],
      carriedRemovals: Map[String, Long],
      saltDecl: Option[Int],
      layoutExpect: Option[Option[Int]],
      contentDrop: Boolean,
      dropFiles: Seq[String]): Long = {
    val latest = latestSeq(fs, table)
    if (writer.isDefined && latest >= 0 &&
        read(fs, table, latest).exists(_.writer == writer)) return latest
    val seq = latest + 1
    // SALT-LAYOUT EXPECTATION, re-resolved AFTER the seq allocation above:
    // the adds were written under this layout, and a resalt/restore that
    // re-declared it since the caller's early check must fail the commit
    // HERE, not land mixed-salt rows one seq after the declaration. The
    // ordering makes this airtight even against a declarer in ANOTHER
    // process (the in-process appendLocks don't cover it): any declaring
    // entry published BEFORE this latestSeq read is visible to resolveAt
    // (its marker is written before its entry publishes), and one
    // published AFTER must contend for this same `seq` — atomicPublish
    // then fails exactly one of the two, and the losing side either
    // retries through a fresh layout check (us) or aborts its expectSeq
    // guard (the declarer). Terminal (not a ConcurrentCommitException):
    // a retry cannot help — the rows themselves are in the wrong layout.
    layoutExpect.foreach { wrote =>
      val now = KvSalt.resolveAt(fs, table, None)
      if (now != wrote) throw new IllegalStateException(
        s"graft-kv log: the salt layout of $table changed mid-write " +
          s"(wrote ${wrote.fold("unsalted")(n => s"$n-bucket")} rows, " +
          s"table now stores ${now.fold("unsalted")(n => s"$n-bucket")} " +
          "keys) — a resalt or layout-restoring restore ran; re-run the " +
          "statement")
    }
    // A caller that staged files keyed by a pre-allocated seq (compaction)
    // must not publish under a different one: an entry claiming to be the
    // complete live set while a concurrent commit slipped below it would
    // hide that commit's files. Abort BEFORE publishing anything.
    expectSeq.foreach { e =>
      if (seq != e) throw new ConcurrentCommitException(
        s"graft-kv log: concurrent commit raced an expectSeq-guarded " +
          s"publish on $table — expected to publish seq $e, log is now " +
          s"at ${seq - 1}")
    }
    val kind = if (compact) "compact" else "append"
    val tag = writer.fold("")(w => s" writer=$w")
    val pend = if (compact) " pend" else ""
    val salt = saltDecl.fold("")(n => s" salt=$n")
    val drop = if (contentDrop) " drop" else ""
    val body = (s"v1 $kind$tag$pend$salt$drop" +:
      (adds.map(n => "+" + n + stats.get(n).fold("")(statSuffix)) ++
        removes.map("-" + _) ++
        dropFiles.map(n => "!" + n + stats.get(n).fold("")(statSuffix)) ++
        carriedRemovals.toSeq.sorted
          .map { case (n, t) => s"~$n\t$t" })).mkString("", "\n", "\n")
    val tmp = new Path(logDir(table), s".tmp-${UUID.randomUUID().toString.take(8)}")
    writeText(fs, tmp, body)
    // Concurrent-commit detection is two layers: the explicit existence
    // check catches the common race cheaply; [[atomicPublish]] is the
    // atomic backstop — no-overwrite rename where the store provides it
    // (HDFS), an atomic hard-link CREATE on local/NFS-style stores whose
    // rename silently REPLACES (two racing committers there would both
    // "succeed" and one entry — with its data files — would be silently
    // erased). The loser's tmp file is cleaned up here — a retrying
    // caller re-enters with a fresh allocation and must not accrete
    // orphans in the log dir.
    if (fs.exists(entryPath(table, seq)) ||
        !atomicPublish(fs, tmp, entryPath(table, seq))) {
      fs.delete(tmp, false): Unit
      throw new ConcurrentCommitException(
        s"graft-kv log: concurrent commit detected at seq $seq of $table")
    }
    writeText(fs, new Path(logDir(table), LatestName), seq.toString)
    if (compact) {
      writeText(fs, new Path(logDir(table), HorizonName), seq.toString)
      writeText(fs, new Path(logDir(table), FloorName),
        floor.getOrElse(seq).toString)
    }
    seq
  }

  /** Publish `tmp` at `target` with NO-OVERWRITE atomicity, returning
    * false when the target already exists (a lost race). HDFS rename is
    * already atomic-no-overwrite; POSIX-semantics stores (local, NFS)
    * REPLACE on rename, so there the publish is an atomic hard-link
    * create — `link(2)` fails with EEXIST exactly when a racer won. The
    * checksum sidecar does not follow the link; local reads tolerate a
    * missing .crc. Object stores without either primitive keep the
    * exists-check + rename pair as best effort (the same residual Delta
    * accepts without a LogStore lock).
    */
  private[sources] def atomicPublish(fs: FileSystem, tmp: Path, target: Path)
      : Boolean =
    if (Option(fs.getUri.getScheme).contains("file")) {
      // The success/failure decision is scoped to the LINK CALL ALONE: a
      // failure in the post-link tmp cleanup must never be misreported as
      // a lost race (the caller would treat a PUBLISHED entry as
      // unpublished — the rewrite path would then discard files the live
      // manifest references).
      val linked =
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          Some(true)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => Some(false)
          // EVERY other link(2) failure degrades, not just the no-links
          // UnsupportedOperationException: file:// mounts can refuse
          // links with EPERM/EXDEV (FileSystemException subclasses) and
          // hard-link-hostile stores surface plain IOExceptions — without
          // a fallback every commit on such a store throws the raw NIO
          // error and the table is bricked for writes.
          case _: UnsupportedOperationException | _: java.io.IOException =>
            None
        }
      linked match {
        case Some(won) =>
          if (won) bestEffortCleanup(fs, tmp)
          won
        case None => movePublish(fs, tmp, target)
      }
    } else fs.rename(tmp, target)

  /** BEST-EFFORT no-overwrite fallback for link-hostile stores:
    * Files.move without REPLACE_EXISTING probes the target before
    * rename(2), which is NOT atomic (a racer between probe and
    * rename is silently replaced) — the same residual the
    * non-file schemes and lock-less Delta LogStores accept, and
    * strictly better than a raw replacing rename. A POST-PUBLISH
    * READ-BACK narrows it further: the intended bytes are captured
    * before the move and compared against what the target actually
    * holds afterward, so a committer whose entry was replaced by a
    * racer (or who replaced the racer's and was then replaced back)
    * sees foreign bytes and reports the race LOUDLY as a false —
    * the caller re-enters with a fresh seq — instead of both sides
    * believing they published. The residual window (racer replaces
    * AFTER this read-back) remains, but the common probe-vs-rename
    * interleaving now fails visibly.
    */
  private[sources] def movePublish(fs: FileSystem, tmp: Path, target: Path)
      : Boolean = {
    val intended = readText(fs, tmp)
    // Only a POSITIVE read of foreign bytes demotes a successful
    // rename to a lost race. A transient read failure (stale NFS
    // handle — exactly the store class this fallback serves) after
    // a successful move MUST stay a win: the misreport direction
    // (published entry treated as unpublished) makes the rewrite
    // path discard replacement files the live manifest references,
    // which is the must-never-happen named at the link branch above.
    def publishedVerified(): Boolean =
      try readText(fs, target) == intended
      catch { case _: java.io.IOException => true }
    try {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(target.toUri.getPath))
      bestEffortCleanup(fs, tmp) // the .crc sidecar does not move
      publishedVerified()
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.io.IOException =>
        !fs.exists(target) && fs.rename(tmp, target) &&
          publishedVerified()
    }
  }

  /** Remove a published tmp file and its Hadoop checksum sidecar; failures
    * are swallowed — a leftover tmp is a benign orphan, misreporting a
    * successful publish is not.
    */
  private def bestEffortCleanup(fs: FileSystem, tmp: Path): Unit = {
    try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
    try fs.delete(new Path(tmp.getParent, s".${tmp.getName}.crc"), false)
    catch { case _: java.io.IOException => () }
  }

  /** Drop the whole log (table truncate) — tail registrations included:
    * a truncated table is a new history, so old progress marks are void.
    */
  def reset(fs: FileSystem, table: Path): Unit =
    fs.delete(logDir(table), true): Unit

  /** Create the (possibly empty) `_log` dir — the commit paths call this
    * BEFORE renaming any data file into the table, so a sink-named file
    * can never exist in a log-less directory unless the directory was
    * copied without its `_log` (the migration shape
    * [[seedFromDirIfNeeded]] refuses loudly). An empty log dir replays as
    * an empty table, which is exactly what a commit-in-progress is.
    */
  def ensureLogDir(fs: FileSystem, table: Path): Unit =
    fs.mkdirs(logDir(table)): Unit

  /** First-commit MIGRATION of a legacy table: when a directory holds data
    * files but no manifest yet (round-7-written or externally-staged), the
    * first logged commit must not hide them — every read switches to log
    * replay the moment `_log` exists, so an entry listing only the new
    * files would silently drop every pre-log segment from all scans. Seeds
    * the log with a `compact` entry enumerating the directory ONCE (a
    * compaction entry's adds are by contract the complete live set, which
    * is exactly what a directory snapshot is). Returns true when it seeded.
    */
  def seedFromDirIfNeeded(fs: FileSystem, table: Path): Boolean = {
    if (exists(fs, table) || !fs.exists(table)) return false
    // Seed only FOREIGN files (plain spark writes, external staging). A
    // SINK-named file (part-b/e/c prefixes) in a LOG-LESS directory is a
    // data-only migration — the table was copied without its `_log` — and
    // silently excluding it from the seed would orphan it: invisible to
    // every scan and vacuum-eligible after grace, with no error. Refuse
    // loudly instead; the operator adopts via fsck or re-stages. (This
    // cannot be a concurrent first commit's just-renamed files: every
    // commit path creates the log dir via [[ensureLogDir]] BEFORE its
    // renames, so a racing committer's files always coexist with `_log`
    // and this method already returned false above.)
    val sinkNamed = "part-[bec]\\d{10}-.*".r
    val all = fs.listStatus(table).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sorted.toSeq
    val (sinkFiles, preexisting) = all.partition(sinkNamed.matches(_))
    // TOCTOU guard: a racing first committer may have created `_log` and
    // renamed its files between the exists() check above and the listing
    // — its sink-named files are a commit in progress, not a migration.
    // Re-check before diagnosing; with `_log` present this table is
    // log-tracked and there is nothing to seed.
    if (sinkFiles.nonEmpty && exists(fs, table)) return false
    if (sinkFiles.nonEmpty) throw new IllegalStateException(
      s"graft-kv log: $table has no manifest log but holds " +
        s"${sinkFiles.length} sink-named data file(s) " +
        s"(${sinkFiles.take(3).mkString(", ")}…) — a table directory " +
        "copied without its _log dir. Refusing to seed implicitly (the " +
        "files' commit attribution is lost); run KvFsck.repair with " +
        "adoptOrphans=true after seeding an empty log, or re-stage the " +
        "data through a fresh graft-kv write.")
    if (preexisting.isEmpty) false
    else {
      // The seed is a compact entry with an (empty) pending set, so a
      // migrated table is checkpoint-anchored from its first entry. Two
      // concurrent seeders race benignly: both enumerate the same
      // directory, the loser's append throws and finds the winner's
      // identical seed already published.
      try {
        append(fs, table, adds = preexisting, compact = true)
        true
      } catch {
        case e: ConcurrentCommitException =>
          if (latestSeq(fs, table) >= 0) false // another seeder won
          else throw e
      }
    }
  }

  // ------------------------------------------------------- tail registry

  /** Record a REGISTERED tail's committed log position (its `seq` — entries
    * below it are fully consumed). The HBase WAL-cleanup contract: a
    * replication peer's progress gates log truncation; here a registered
    * tail's progress gates COMPACTION ([[KvCompactor]] parks while any
    * registered tail still needs pre-compaction segments). Registration is
    * opt-in (`tailId` reader option) — an unregistered tail costs nothing
    * per batch but fails loudly if compaction overtakes its checkpoint.
    */
  def recordTail(fs: FileSystem, table: Path, tailId: String, seq: Long): Unit =
    writeText(fs, new Path(new Path(logDir(table), TailsDirName), tailId), seq.toString)

  /** Drop a tail's registration (HBase `remove_peer`): the operator escape
    * hatch for a DEAD tail whose mark — possibly corrupt, read as the
    * conservative position 0 — would otherwise gate compaction forever.
    */
  def dropTail(fs: FileSystem, table: Path, tailId: String): Boolean =
    fs.delete(new Path(new Path(logDir(table), TailsDirName), tailId), false)

  private val WritersDirName = "_writers"

  /** Streaming-writer epoch HINT: the last epoch a writer committed,
    * recorded right after its entry append (`_log/_writers/<tok>`). An
    * O(1) replay check that stays sound under interleaved commits from
    * OTHER writers (where the latest-entry tag check goes blind). Torn or
    * missing reads self-heal like every other hint: the sink falls back
    * to the bounded tag scan ([[recentWriterTag]]).
    */
  def recordWriterEpoch(fs: FileSystem, table: Path, tok: String,
      epoch: Long): Unit =
    writeText(fs, new Path(new Path(logDir(table), WritersDirName), tok),
      epoch.toString)

  def writerEpoch(fs: FileSystem, table: Path, tok: String): Option[Long] =
    readLong(fs, new Path(new Path(logDir(table), WritersDirName), tok))

  /** Whether any of the most recent `lookback` RETAINED entries carries
    * `tag` — the slow-path replay detector for the crash window between an
    * epoch's entry append and its hint write. Bounded: a replay arrives
    * immediately on restart, so its entry is at most a handful of
    * interleaved commits back.
    */
  def recentWriterTag(fs: FileSystem, table: Path, tag: String,
      lookback: Int = 32): Boolean = {
    val latest = latestSeq(fs, table)
    if (latest < 0) return false
    val first = math.max(earliestSeq(fs, table), latest - lookback + 1)
    (first to latest).reverse
      .exists(s => read(fs, table, s).exists(_.writer.contains(tag)))
  }

  /** All registered tails' committed seqs (empty when none registered).
    * A mark that EXISTS but reads torn (racing its own per-batch overwrite
    * — the tail is live right now) maps to position 0, the conservative
    * gate: compaction parks below it this pass and re-reads next pass,
    * instead of silently merging past an active tail.
    */
  def tailPositions(fs: FileSystem, table: Path): Map[String, Long] = {
    val d = new Path(logDir(table), TailsDirName)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).map(_.getPath).map { p =>
      p.getName -> readLong(fs, p).getOrElse(0L)
    }.toMap
  }

  /** The table's commit HISTORY (the Delta `DESCRIBE HISTORY` analog):
    * every RETAINED entry in seq order with its kind, writer tag, and
    * add/remove counts — after [[truncate]], history starts at the first
    * retained seq (like Delta after checkpoint cleanup). Driver-side
    * metadata replay, O(retained log length); the audit surface time
    * travel (`asOfSeq`) and CDC (`sinceSeq`) reads pick their versions
    * from.
    */
  def history(fs: FileSystem, table: Path)
      : Seq[(Long, String, String, Long, Long)] = {
    val latest = latestSeq(fs, table)
    (earliestSeq(fs, table) to latest).flatMap(seq =>
      read(fs, table, seq).map(e =>
        (e.seq, if (e.compact) "compact" else "append",
          e.writer.getOrElse(""), e.adds.size.toLong, e.removes.size.toLong)))
  }

  /** For every file some entry has REMOVED (compaction's merged-away
    * segments), the PUBLISH time of the removing entry (the entry file's
    * mtime) — the instant the file became unreferenced. [[KvVacuum]]'s
    * grace window for these runs from this instant, NOT the data file's own
    * mtime: a segment written days ago and merged away a second ago must
    * survive a full grace period so in-flight scans planned pre-publish can
    * finish (the read-grace contract [[KvCompactor]]'s deferred deletes
    * rely on).
    *
    * ANCHORED REPLAY: the horizon checkpoint carries its pending-removal
    * set, so attribution starts there — O(commits since checkpoint)
    * probes, and pre-floor entries may have been [[truncate]]d away
    * entirely. A table with no checkpoint replays from seq 0.
    */
  def removalTimes(fs: FileSystem, table: Path): Map[String, Long] = {
    val latest = latestSeq(fs, table)
    val h = horizon(fs, table)
    val anchor = if (h >= 0) read(fs, table, h) else None
    val from = anchor.fold(0L)(_ => h)
    val out = scala.collection.mutable.HashMap.empty[String, Long]
    anchor.foreach(e => out ++= e.carriedRemovals)
    (from to latest).foreach { seq =>
      read(fs, table, seq).foreach { e =>
        if (e.removes.nonEmpty) {
          val t = fs.getFileStatus(entryPath(table, seq)).getModificationTime
          e.removes.foreach(out(_) = t)
        }
        e.adds.foreach(out -= _) // a re-published name is live again
      }
    }
    out.toMap
  }

  /** Test hook: backdate entry `seq`'s publish time (its file mtime), so
    * specs can expire a removal's grace window without sleeping.
    */
  private[graft] def backdateEntry(fs: FileSystem, table: Path, seq: Long,
      mtimeMs: Long): Unit =
    fs.setTimes(entryPath(table, seq), mtimeMs, -1)

  /** One file of a resolved read set: its name, the seq of the entry
    * that last published it — the unit compaction partitions on (a file
    * attributed below the gating floor is safe to merge) and the layout
    * epoch a mixed-salt span strips it under — and its manifest
    * [[FileStat]] (None for a log-less directory's seed entry; consumers
    * fall back per file).
    */
  case class LiveFile(name: String, seq: Long, stat: Option[FileStat])

  /** A resolved table version: seq `seq` and its files, sorted by name
    * (-1 and no files for an empty log).
    */
  case class Live(seq: Long, files: Seq[LiveFile]) {
    def names: Seq[String] = files.map(_.name)
    def stats: Map[String, FileStat] =
      files.collect { case LiveFile(n, _, Some(s)) => n -> s }.toMap
    def withStats: Seq[(String, Option[FileStat])] = files.map(f => (f.name, f.stat))
  }

  /** The current version's file names — a projection of [[live]]. */
  def liveFiles(fs: FileSystem, table: Path): Seq[String] =
    live(fs, table).names

  /** The current version's manifest stats, stat-less files absent — a
    * projection of [[live]].
    */
  def liveFileStats(fs: FileSystem, table: Path): Map[String, FileStat] =
    live(fs, table).stats

  /** The current version's (name, stat) pairs — a projection of [[live]]. */
  def liveFilesWithStats(fs: FileSystem, table: Path)
      : Seq[(String, Option[FileStat])] =
    live(fs, table).withStats

  /** The optimistic append loop every simple committer shares: retry the
    * ONE-entry append on a lost seq race (bounded attempts). Callers
    * whose entry content must be RECOMPUTED per attempt (compaction
    * rebase, truncate, row-level replace) keep their own loops.
    */
  def appendRetrying(fs: FileSystem, table: Path, adds: Seq[String],
      writer: Option[String] = None,
      stats: Map[String, FileStat] = Map.empty,
      maxAttempts: Int = 20,
      layoutExpect: Option[Option[Int]] = None): Long = {
    var attempts = 0
    while (true) {
      try return append(fs, table, adds = adds, writer = writer, stats = stats,
        layoutExpect = layoutExpect)
      catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          if (attempts >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable: appendRetrying returns")
  }

  /** THE VERSION RESOLVER: the files version `asOf` holds (None = the
    * latest), with the seq it resolved — one log walk. Replay starts at
    * the horizon checkpoint (a compaction entry's adds are the complete
    * live set), so it costs O(commits since the last compaction).
    *
    * TIME TRAVEL (`asOf`, the HBase snapshot-read / Delta `versionAsOf`
    * analog; every entry is a durable table version). A version at or
    * after the horizon replays from it; an older one anchors at the
    * NEWEST RETAINED checkpoint at or below it — any compact entry is a
    * complete live set, so a version between two checkpoints stays
    * reconstructible after truncation dropped the prefix below the older
    * one (an O(asOf − anchor) backward probe). Fails loudly when:
    *  - `asOf` is beyond the log end (that version doesn't exist yet);
    *  - no retained checkpoint covers it and the prefix was truncated;
    *  - a file live at `asOf` was merged away by compaction AND already
    *    reclaimed by [[KvVacuum]] — Delta's trade: compaction alone never
    *    limits time travel (its deletes are deferred, [[KvCompactor]]
    *    publish protocol step 4), VACUUM does. A file attributed below
    *    the floor costs one existence probe, paid only on pre-checkpoint
    *    versions.
    */
  def live(fs: FileSystem, table: Path, asOf: Option[Long] = None): Live = {
    val h = horizon(fs, table)
    val v = asOf.getOrElse(latestSeq(fs, table))
    // An entry at `v` proves `v <= latest`; only its absence pays the walk
    // to the log end that names the latest seq in the refusal.
    if (asOf.isDefined && (v < 0 || (v >= h && !fs.exists(entryPath(table, v))))) {
      val latest = latestSeq(fs, table)
      require(v >= 0 && v <= latest,
        s"graft-kv log: asOfSeq $v is outside $table's log (latest $latest)")
    }
    val files =
      if (v >= h) replayLive(fs, table, math.max(h, 0L), v)
      else {
        val firstKept = earliestSeq(fs, table)
        var s = v
        var anchor = -1L
        while (anchor < 0 && s >= firstKept)
          if (read(fs, table, s).exists(_.compact)) anchor = s else s -= 1
        if (anchor < 0 && firstKept > 0) throw new IllegalStateException(
          s"graft-kv log: version $v of $table is no longer reconstructible — " +
            s"entries below seq $firstKept were truncated by log retention and " +
            "no retained checkpoint covers this version (pre-floor versions " +
            "survive truncation only as long as their entries or a covering " +
            "checkpoint do; re-baseline from the checkpoint or a full scan)")
        val replayed = replayLive(fs, table, math.max(anchor, 0L), v)
        val fl = floor(fs, table)
        val reclaimed = replayed.filter(_.seq < fl).map(_.name).sorted
          .filterNot(n => fs.exists(new Path(table, n)))
        if (reclaimed.nonEmpty) throw new IllegalStateException(
          s"graft-kv log: version $v of $table is no longer reconstructible — " +
            s"${reclaimed.length} of its files were merged away by compaction " +
            s"(floor $fl) and reclaimed by vacuum: " +
            s"${reclaimed.take(3).mkString(", ")}…. Pre-checkpoint versions stay " +
            "readable only until vacuum's grace period reclaims their segments.")
        replayed
      }
    Live(v, files.sortBy(_.name))
  }

  /** THE CHANGE RESOLVER — an INCREMENTAL (CDC) read: the files COMMITTED
    * in `(since, upTo]`, each with the seq of the entry that committed it
    * — a batch equivalent of tailing that span ([[KvTailStream]]), for
    * backfill pipelines that consume a table in version-bounded
    * increments without a streaming checkpoint (the Delta change-data-feed
    * shape; cells are immutable so every change is an append). A compact
    * entry's adds re-publish already-consumed data and are skipped (the
    * tail's delivery rule); its DROP FILES are the span's delete records
    * (exact-version markers) and ship like any other file. Fails loudly
    * when the span dips below the compaction floor — those increments'
    * files were merged away — UNLESS a named snapshot at seq <= `since`
    * anchors it (r18): the span is then a DURABLE CDC LEASE
    * ([[truncate]] stops above the oldest snapshot seq, [[KvVacuum]]
    * spares the span's adds), served after VERIFYING every entry and file
    * still exists (the pin guarantees it outside the create-vs-GC race
    * window every non-locking store shares).
    */
  def changes(fs: FileSystem, table: Path, since: Long, upTo: Long): Live = {
    val latest = latestSeq(fs, table)
    // `upTo <= latest` matters: a version beyond the log end is a
    // stale/wrong reference and must error, not return a partial span.
    require(since >= -1 && since <= upTo && upTo <= latest,
      s"graft-kv log: change span ($since, $upTo] is outside $table's log " +
        s"(latest seq is $latest)")
    val fl = floor(fs, table)
    val belowFloor = spanAnchoredBelowFloor(fs, table, since, fl)
    val files = (since + 1 to upTo).flatMap { seq =>
      val entry = read(fs, table, seq)
      if (belowFloor) requireNoSpanGap(table, since, upTo, seq, fl, entry)
      entry.toSeq.flatMap(e => (if (e.compact) e.dropFiles else e.adds)
        .map(n => LiveFile(n, seq, e.stats.get(n))))
    }.sortBy(_.name)
    if (belowFloor) requireSpanFiles(fs, table, since, upTo, files.map(_.name))
    Live(upTo, files)
  }

  /** Replay entries `[from, to]` into the live set — the one walk under
    * [[live]]; each file carries the seq of the entry that last added it.
    */
  private def replayLive(fs: FileSystem, table: Path, from: Long, to: Long)
      : Seq[LiveFile] = {
    val live = scala.collection.mutable.HashMap.empty[String, LiveFile]
    (from to to).foreach { seq =>
      read(fs, table, seq).foreach { e =>
        e.removes.foreach(live -= _)
        e.adds.foreach(n => live(n) = LiveFile(n, seq, e.stats.get(n)))
      }
    }
    live.values.toSeq
  }

  /** Floor admission for a change span (r18): a below-floor span refuses
    * UNLESS a named snapshot at seq ≤ `since` anchors it — snapshots are
    * durable CDC anchors ([[truncate]] stops above the oldest snapshot
    * seq, [[KvVacuum]] spares the span's adds). Returns true exactly for
    * the anchored-below-floor case, where the caller must also verify
    * entry continuity ([[requireNoSpanGap]]) and file existence
    * ([[requireSpanFiles]]): the pin only protects from its create time
    * forward.
    */
  private def spanAnchoredBelowFloor(fs: FileSystem, table: Path,
      since: Long, fl: Long): Boolean = {
    if (since + 1 >= fl) return false
    if (!KvSnapshot.list(fs, table).exists(_.seq <= since))
      throw new IllegalStateException(
        s"graft-kv log: changes since seq $since of $table are no longer " +
          s"reconstructible — entries below the compaction floor $fl were " +
          "merged away. Re-baseline from a full scan (or an asOfSeq read). " +
          "To keep a change anchor durable across maintenance, pin it " +
          "with a named snapshot at the anchor seq (snapshots stop log " +
          "truncation and file GC above their seq).")
    true
  }

  private def requireNoSpanGap(table: Path, since: Long, upTo: Long,
      seq: Long, fl: Long, entry: Option[Entry]): Unit =
    if (entry.isEmpty && seq < fl) throw new IllegalStateException(
      s"graft-kv log: the snapshot-anchored change span ($since, $upTo] " +
        s"of $table is missing entry $seq — it was truncated before the " +
        "anchoring snapshot existed. Re-baseline from a full scan (or an " +
        "asOfSeq read).")

  private def requireSpanFiles(fs: FileSystem, table: Path, since: Long,
      upTo: Long, files: Seq[String]): Unit = {
    val missing = files.filterNot(n => fs.exists(new Path(table, n)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"graft-kv log: the snapshot-anchored change span ($since, $upTo] " +
        s"of $table lost files ${missing.take(3).mkString(", ")}" +
        s"${if (missing.size > 3) s" (+${missing.size - 3} more)" else ""}" +
        " — they were reclaimed before the anchoring snapshot existed. " +
        "Re-baseline from a full scan (or an asOfSeq read).")
  }

  /** Every drop-record file some RETAINED entry references — the vacuum
    * exclusion set ([[KvVacuum]] reclaims `drops-*` strays a crashed
    * publish left behind, and must never touch one a live entry still
    * serves). O(retained log) entry reads, GC path only.
    */
  def referencedDropFiles(fs: FileSystem, table: Path): Set[String] = {
    val latest = latestSeq(fs, table)
    (earliestSeq(fs, table) to latest).flatMap(s =>
      read(fs, table, s).toSeq.flatMap(_.dropFiles)).toSet
  }

  /** Hint reads are TOLERANT of every failure mode a concurrent in-place
    * hint overwrite can expose (torn value → NumberFormatException, open
    * racing create/delete → EOF/FileNotFound/checksum IOExceptions): every
    * hint consumer self-heals from None (latestSeq probes forward, horizon
    * replays from 0, floor falls back to horizon), so a racing reader pays
    * extra probes, never an exception. Entry files never take this path —
    * they are staged + renamed and immutable once published.
    */
  private def readLong(fs: FileSystem, p: Path): Option[Long] =
    try { if (fs.exists(p)) Some(readText(fs, p).trim.toLong) else None }
    catch {
      case _: NumberFormatException => None
      case _: java.io.IOException => None
    }

  private[sources] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  private[sources] def writeText(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}
