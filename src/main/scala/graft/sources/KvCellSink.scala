package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** `format("graft-kv")` writes: resolves a statement's options into one
  * [[KvWrite]] — cell columns, `regions`, `codec`, maintenance policy,
  * tombstone admission and the salt contract (`saltedInput` pre-salted
  * rows, `saltWrite` sink-side salting, and the layout checks between
  * them and the table's declaration). The range-sort contract is
  * [[KvRangeSortedWrite]]; staging, sealing and publishing are
  * [[KvStagedCommit]].
  */
private[sources] class KvWriteBuilder(path: String, info: LogicalWriteInfo,
    conf: SerializableConfiguration)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.internal.Logging {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val schema = info.schema()
    val cellCols = graft.kv.Cell.schema.fieldNames.toSet
    require(schema.fieldNames.toSet == cellCols,
      s"graft-kv write needs exactly columns ${cellCols.mkString(", ")}, " +
        s"got ${schema.fieldNames.mkString(", ")}")
    val regions = Option(info.options.get("regions")).map(_.toInt).getOrElse(8)
    require(regions > 0, "graft-kv: regions must be positive")
    // Region-file compression (HBase `COMPRESSION => ...` column-family
    // attribute). Snappy default (cheap CPU); zstd trades encode CPU for
    // ~30% smaller regions — at 100 TB that is tens of TB of storage and
    // scan I/O, usually the right trade on an object store. Per-WRITE, so
    // a compaction can rewrite a table to a different codec; readers are
    // codec-agnostic (parquet self-describes per column chunk).
    val codec = KvCodecs.parse(
      Option(info.options.get("codec")).getOrElse("snappy"))
    // Opt-in POST-COMMIT MAINTENANCE (`maintain=true` + policy knobs):
    // lifecycle hygiene wired into the write path itself, the HBase shape
    // (region servers trigger compaction checks from the memstore flush).
    // Parsed STRICTLY: a malformed value here is a typo'd explicit write
    // option, and running the write without the maintenance the user
    // asked for would let segments pile up while the operator believes
    // self-maintenance is on. Catalog-RECORDED properties are screened
    // leniently at injection instead ([[KvCatalogTable.newWriteBuilder]]).
    val maintainPolicy = KvMaintenance.Policy.parse(
      k => Option(info.options.get(KvMaintenance.Policy.OptionSpelling(k))),
      k => s"graft-kv: maintenance option ${KvMaintenance.Policy.OptionSpelling(k)}")
    // Reserved-qualifier admission ([[KvDelete]]): user writes must not
    // smuggle delete markers; the delete API, compaction rewrites, and
    // deliberate replication pipes set `allowTombstones=true`.
    val allowTombstones =
      Option(info.options.get("allowTombstones")).exists(_.toBoolean)
    // A REGISTERED salted table validates every appended rowKey as a
    // self-consistent stored key ([[KvSalt.isStored]]): an unsalted (or
    // wrong-n) append would corrupt the layout silently — reads mask no
    // error, point lookups just miss. A TRUNCATING write resets the
    // path-level registration with the data, so plain overwrites skip the
    // check — EXCEPT on a table whose CATALOG properties declare
    // `salt_buckets` (the commit re-registers it): there an unsalted
    // INSERT OVERWRITE would corrupt exactly like an unsalted append, so
    // it is refused unless the rows are pre-salted ([[KvSalt.saltedWrite]]
    // declares that via `saltedInput=<n>`, which is then also validated).
    val saltedInput = Option(info.options.get("saltedInput")).map(_.toInt)
    saltedInput.foreach(KvSalt.requireBuckets)
    // `saltWrite=<n>` (r13, injected by [[KvCatalogTable]] — never a user
    // option): the incoming rows carry LOGICAL keys and the SINK applies
    // the salt, demuxing each range partition into per-bucket stored-
    // sorted files ([[KvTaskWriter]], the writer every path shares). This
    // is what makes plain SQL INSERT / CTAS / INSERT OVERWRITE work on
    // `salt_buckets` tables: the SQL surface is a logical-key surface on
    // BOTH sides (reads strip the salt, writes add it — the Phoenix
    // contract), while the path API keeps its explicit pre-salted contract.
    val saltWrite = Option(info.options.get("saltWrite")).map(_.toInt)
    saltWrite.foreach(KvSalt.requireBuckets)
    require(saltWrite.isEmpty || saltedInput.isEmpty,
      "graft-kv: saltWrite and saltedInput are mutually exclusive")
    // saltWrite must AGREE with the table's own salt declaration (the
    // registered `_salt` property or the recorded `salt_buckets` table
    // property) — a USER-passed option would otherwise land salted stored
    // keys on an unsalted table (or the wrong bucket count) with no
    // registration: prefixed keys visible on every later read. The
    // catalog attests its own injection through the INTERNAL
    // `saltWriteDeclared` option (the declared count it just resolved),
    // so the per-statement filesystem re-reads only happen for a bare
    // path-API `saltWrite` — and a user override that disagrees with the
    // catalog's attested value still fails here.
    saltWrite.foreach { n =>
      val declared =
        Option(info.options.get("saltWriteDeclared")).map(_.toInt).orElse {
          val p = new Path(path)
          val fsx = p.getFileSystem(conf.value)
          KvSalt.resolveAt(fsx, p, None).orElse(
            KvTableProps.read(fsx, p).get("salt_buckets").map { v =>
              try v.toInt catch {
                case _: NumberFormatException =>
                  throw new IllegalStateException(
                    s"graft-kv: $path records a malformed salt_buckets " +
                      s"property '$v' — a LAYOUT property; refusing to " +
                      "write until it is repaired")
              }
            })
        }
      require(declared.contains(n),
        s"graft-kv: saltWrite=$n but $path " +
          declared.fold("is not a salted table — register the salt first " +
            "(catalog `salt_buckets` property or KvSalt.register)")(d =>
            s"declares $d salt buckets"))
    }
    val saltCheck =
      // The sink prefixes every key itself (KvTaskWriter): a stored-form
      // re-check of a key it just salted cannot fail, so none is asked for.
      if (saltWrite.isDefined) None
      else if (!doTruncate) {
        val p = new Path(path)
        KvSalt.resolveAt(p.getFileSystem(conf.value), p, None)
      } else {
        val p = new Path(path)
        val declared = KvTableProps
          .read(p.getFileSystem(conf.value), p).get("salt_buckets").map(_.toInt)
        (declared, saltedInput) match {
          case (Some(n), None) => throw new IllegalArgumentException(
            s"graft-kv: $path declares salt_buckets=$n in its table " +
              "properties — an unsalted truncating write (INSERT " +
              "OVERWRITE / overwrite mode) would corrupt the salted " +
              "layout the commit re-registers; route it through " +
              "KvSalt.saltedWrite(mode=\"overwrite\")")
          case (Some(n), Some(m)) =>
            require(n == m,
              s"graft-kv: $path declares salt_buckets=$n; refusing a " +
                s"$m-bucket salted overwrite")
            Some(m)
          case (None, m) => m // validate pre-salted rows when declared
        }
      }
    new KvWrite(path, schema, regions, doTruncate, info.queryId(), conf,
      maintainPolicy, codec, allowTombstones, saltCheck, saltWrite)
  }
}

/** One codec vocabulary for every write path — the batch/streaming sink
  * and the row-level replacement write (which must honor the table's
  * recorded `codec` property) parse through the same table.
  */
private[sources] object KvCodecs {
  def parse(name: String): CompressionCodecName = name.toLowerCase match {
    case "snappy" => CompressionCodecName.SNAPPY
    case "zstd" => CompressionCodecName.ZSTD
    case "gzip" => CompressionCodecName.GZIP
    case "lz4" => CompressionCodecName.LZ4_RAW
    case "none" | "uncompressed" => CompressionCodecName.UNCOMPRESSED
    case other => throw new IllegalArgumentException(
      s"graft-kv: unknown codec '$other' (snappy|zstd|gzip|lz4|none)")
  }
}


/** The sink's range-sort contract, declared once for every graft-kv write
  * (appends, overwrites, streaming epochs and row-level replacements):
  * PopulateTable's HFile invariant (PopulateTable.java:68's
  * `TotalOrderPartitioner` + sorting reducer) owned by the SINK, not
  * trusted to the caller. Spark range-partitions the input on rowKey into
  * `regions` partitions and sorts each by (rowKey, qualifier) before a
  * writer sees a row, so every sealed file is a sorted region file — no
  * `repartitionByRange` or `sortWithinPartitions` at any call site.
  */
private[sources] trait KvRangeSortedWrite
    extends Write with RequiresDistributionAndOrdering {

  protected def regions: Int

  override def requiredDistribution(): Distribution =
    Distributions.ordered(Array(
      Expressions.sort(Expressions.column("rowKey"), SortDirection.ASCENDING)))

  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("rowKey"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column("qualifier"), SortDirection.ASCENDING))

  override def requiredNumPartitions(): Int = regions
}

private[sources] class KvWrite(
    path: String, schema: StructType, protected val regions: Int,
    truncate: Boolean, queryId: String, conf: SerializableConfiguration,
    maintainPolicy: Option[KvMaintenance.Policy] = None,
    codec: CompressionCodecName = CompressionCodecName.SNAPPY,
    allowTombstones: Boolean = false,
    saltCheck: Option[Int] = None,
    saltOnWrite: Option[Int] = None)
    extends KvRangeSortedWrite {

  override def toBatch: BatchWrite =
    new KvBatchWrite(path, schema, truncate, conf, codec, allowTombstones,
      saltCheck, saltOnWrite, maintainPolicy)

  // Sink-side salting applies to streaming epochs too:
  // `writeStream.toTable` into a `salt_buckets` catalog table carries
  // LOGICAL keys and each epoch demuxes into per-bucket files. A pipeline
  // that PRE-salts its rows (the path-API contract) declares
  // `saltedInput=<n>`, exactly like batch.
  override def toStreaming: StreamingWrite =
    new KvStreamingWrite(path, schema, queryId, conf, maintainPolicy, codec,
      allowTombstones, saltCheck, saltOnWrite)
}

/** The seal-and-publish step every graft-kv commit shares: batch appends
  * and overwrites ([[KvBatchWrite]]), streaming epochs
  * ([[KvStreamingWrite]]) and row-level replacements
  * ([[KvReplaceDataBatchWrite]]).
  *
  * Writer tasks stage under task-unique names in this write's
  * `_tmp_<uuid>` dir and ack with what they staged ([[KvWriteCommit]]).
  * The driver-side commit then
  *  1. SEALS each acknowledged file ([[seal]]): one rename into the table
  *     under the protocol's final name — metadata-only on HDFS-like
  *     stores. A failed rename (target exists or source missing) aborts
  *     the commit before anything is published;
  *  2. PUBLISHES by appending one [[KvLog]] entry listing the sealed names
  *     and their in-stream stats — the atomic point every reader consumes,
  *     so readers only ever see files named by a completed commit, and a
  *     concurrent or speculative attempt can never tear the table. The
  *     log dir exists before the first data rename, so a racing first
  *     committer never mistakes sealed files for a log-less migration
  *     ([[KvLog.ensureLogDir]]);
  *  3. clears the staging dir, and only then runs the table's opt-in
  *     maintenance pass ([[finish]]). That pass is best-effort
  *     ([[KvMaintenance.maintainBestEffort]]): the entry is already
  *     durable, so a housekeeping failure must not fail — and get retried
  *     as — a committed write, and a crash mid-pass never tears it.
  * An aborted write drops its staging dir ([[clear]]); nothing was
  * published. Sealed names carry this write's token (the staging uuid),
  * or for streaming a deterministic (query, epoch, slot) name, so they
  * never collide across concurrent committers: losing the log-append race
  * costs a retry of the one-entry append, never a rename of data.
  */
private[sources] final class KvStagedCommit(path: String,
    conf: SerializableConfiguration) {

  val stagingDir: String = s"$path/_tmp_${UUID.randomUUID().toString.take(8)}"

  /** This write's writer-unique name token: the staging dir's uuid. */
  val token: String = stagingDir.substring(stagingDir.lastIndexOf('_') + 1)

  def writerFactory(schema: StructType, codec: CompressionCodecName,
      allowTombstones: Boolean, saltCheck: Option[Int],
      saltOnWrite: Option[Int]): KvWriterFactory =
    KvWriterFactory(stagingDir, KvScanBuilder.broadcastConf(conf),
      KvWriterFactory.cellOrdinals(schema), schema.length, codec,
      allowTombstones, saltCheck, saltOnWrite)

  /** The files the tasks staged, as (staged file, slot label, stat). */
  def staged(messages: Array[WriterCommitMessage])
      : Seq[(String, String, Option[KvLog.FileStat])] =
    messages.toSeq.flatMap {
      case KvWriteCommit(parts) => parts.map(p => (p.file, f"${p.slot}%05d", p.stat))
      case _ => Nil
    }

  /** Step 1: renames each staged file to `name(label)` in `dir`; `what`
    * names the commit in the failure.
    */
  def seal(fs: FileSystem, dir: Path,
      parts: Seq[(String, String, Option[KvLog.FileStat])], what: String)(
      name: String => String): KvStagedCommit.Sealed = {
    val out = parts.map { case (staged, label, st) =>
      val target = new Path(dir, name(label))
      require(fs.rename(new Path(staged), target),
        s"graft-kv: sealing rename $staged -> $target failed (target " +
          s"exists or source missing) — aborting the $what")
      target.getName -> st
    }
    KvStagedCommit.Sealed(out.map(_._1),
      out.collect { case (n, Some(st)) => n -> st }.toMap)
  }

  def clear(): Unit = {
    val staging = new Path(stagingDir)
    staging.getFileSystem(conf.value).delete(staging, true): Unit
  }

  /** Step 3, once the entry is durable. */
  def finish(maintainPolicy: Option[KvMaintenance.Policy]): Unit = {
    clear()
    maintainPolicy.foreach(p => KvMaintenance.maintainBestEffort(
      org.apache.spark.sql.SparkSession.active, path, p))
  }
}

private[sources] object KvStagedCommit {
  /** What a commit publishes: the sealed names and their stats. */
  final case class Sealed(adds: Seq[String], stats: Map[String, KvLog.FileStat])
}

/** A batch append or truncating overwrite, sealed as
  * `part-b<seq>-<slot>-<token>.parquet`: the seq is the current log seq,
  * a human-orderable label (no reader depends on name order), the token
  * makes the name writer-unique.
  */
private[sources] class KvBatchWrite(path: String, schema: StructType,
    truncate: Boolean, conf: SerializableConfiguration,
    codec: CompressionCodecName = CompressionCodecName.SNAPPY,
    allowTombstones: Boolean = false,
    saltCheck: Option[Int] = None,
    saltOnWrite: Option[Int] = None,
    maintainPolicy: Option[KvMaintenance.Policy] = None)
    extends BatchWrite {

  private val commitStep = new KvStagedCommit(path, conf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    commitStep.writerFactory(schema, codec, allowTombstones, saltCheck, saltOnWrite)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    if (truncate && fs.exists(dir)) {
      // Truncate resets the table but NOT its named snapshots (the HBase
      // archive contract, [[KvSnapshot]]): the `_snapshots` dir and every
      // data file a snapshot references survive, so a pinned state stays
      // readable/restorable across an overwrite. Unpinned files and the
      // manifest go. CATALOG metadata also survives — HBase `truncate`
      // preserves the table schema — so the recorded table properties
      // ([[KvTableProps]]) are carried across the reset, and a
      // catalog-declared `salt_buckets` is re-registered (a PATH-level
      // salt registration, by contrast, resets with the data: an
      // overwrite may legitimately change the salt layout).
      val props = KvTableProps.read(fs, dir)
      // Index DEFINITIONS survive the truncate like the table properties
      // do (their DATA covers rows this commit destroys, so each comes
      // back as an empty shell the next refresh rebuilds incrementally —
      // KvIndex.preserveShell doc). Silently dropping them would void
      // the managed-object lifecycle with an ordinary DML statement.
      val indexShells = KvIndex.list(fs, dir)
      val pinned = KvSnapshot.referencedFiles(fs, dir)
      fs.listStatus(dir).map(_.getPath)
        .filter(f => !f.getName.startsWith("_tmp_"))
        .filter(f => f.getName != KvSnapshot.DirName && !pinned.contains(f.getName))
        .foreach(f => fs.delete(f, true))
      KvLog.reset(fs, dir) // truncate resets the manifest with the data
      indexShells.foreach(m => KvIndex.preserveShell(fs, dir, m))
      if (props.nonEmpty) {
        KvLog.ensureLogDir(fs, dir)
        KvTableProps.write(fs, dir, props)
        props.get("salt_buckets").foreach(n => KvSalt.register(fs, dir, n.toInt))
      }
      // A sink-salted overwrite (saltWrite injection) must survive the
      // reset even when the salt was a PATH-level registration on an
      // adopted table (no catalog property to replay above): this
      // commit's rows land stored-salted, so a wiped registration would
      // make every subsequent read treat the table as unsalted — silent
      // empty point lookups, raw stored keys in scans. Idempotent when
      // the props branch already re-registered the same n.
      saltOnWrite.foreach { n =>
        KvLog.ensureLogDir(fs, dir)
        KvSalt.register(fs, dir, n)
      }
    }
    fs.mkdirs(dir)
    // First logged commit into a legacy directory (non-truncate append to a
    // table that predates the manifest): snapshot the pre-existing segments
    // into the log FIRST, or this entry would become the whole visible
    // table and silently hide them (KvLog.seedFromDirIfNeeded doc).
    if (!truncate) KvLog.seedFromDirIfNeeded(fs, dir)
    // A resalt that landed since this write resolved its layout must fail
    // the commit, not silently mix layouts (KvSalt.requireLayoutUnchanged).
    // Truncating writes are exempt — the overwrite DEFINES the new layout.
    if (!truncate) KvSalt.requireLayoutUnchanged(fs, dir,
      saltOnWrite.orElse(saltCheck), "this batch write")
    KvLog.ensureLogDir(fs, dir)
    val seq = KvLog.latestSeq(fs, dir) + 1
    val sealedOut = commitStep.seal(fs, dir, commitStep.staged(messages),
      "commit")(slot => f"part-b$seq%010d-$slot-${commitStep.token}.parquet")
    // OPTIMISTIC CONCURRENCY on the entry append (the Delta commit-loop
    // shape): a concurrent committer winning the seq costs this one a
    // re-append under a fresh allocation — bounded attempts, data files
    // untouched. In-process writers never even conflict (KvLog's
    // per-table append lock); this loop is the cross-process path.
    KvLog.appendRetrying(fs, dir, adds = sealedOut.adds,
      stats = sealedOut.stats,
      // In-lock twin of the early guard above (closes the rename-window
      // TOCTOU in-process); truncating writes DEFINE the layout instead.
      layoutExpect =
        if (truncate) None else Some(saltOnWrite.orElse(saltCheck))): Unit
    // Catalog tables declare maintenance once as a TABLE property
    // ([[KvTableProps]]) and every INSERT keeps the table maintained —
    // the HBase stance (compaction is the store's job, not a scheduler's).
    commitStep.finish(maintainPolicy)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    commitStep.clear()
}

/** The WAL PRODUCER side of the connector — `writeStream.format("graft-kv")`
  * seals one set of region files per micro-batch epoch (the memstore-flush
  * analog: each epoch's state flushes as sorted immutable files), one
  * [[KvLog]] entry per epoch, so a `graft-kv` tail of a `graft-kv`
  * streaming sink is a working replication pipe whose admission cost is
  * O(new epochs), not O(table history).
  *
  * Exactly-once: final names are DETERMINISTIC per (query, epoch, slot) —
  * `part-e<epoch>-<query token>-<slot>.parquet`, no task id, no uuid — and
  * the log entry carries a `queryId:epochId` writer tag. A replayed epoch
  * is detected before any rename and acks as a no-op; a torn epoch's
  * targets are cleared before the renames, so re-commits are idempotent
  * and a torn epoch is invisible.
  */
private[sources] class KvStreamingWrite(path: String, schema: StructType,
    queryId: String, conf: SerializableConfiguration,
    maintainPolicy: Option[KvMaintenance.Policy] = None,
    codec: CompressionCodecName = CompressionCodecName.SNAPPY,
    allowTombstones: Boolean = false,
    saltCheck: Option[Int] = None,
    saltOnWrite: Option[Int] = None)
    extends StreamingWrite {

  private val commitStep = new KvStagedCommit(path, conf)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    commitStep.writerFactory(schema, codec, allowTombstones, saltCheck, saltOnWrite)

  /** Stable per-QUERY name token: sealed names are deterministic per
    * (query, epoch, region), so exactly-once recovery (rename-over-same-
    * names) still holds per query while TWO streaming queries appending to
    * one table can never collide — without it, both queries' epoch 0 would
    * target the same names and each one's incomplete-commit hygiene could
    * delete the other's committed files.
    */
  private val queryTok =
    queryId.filter(_.isLetterOrDigit).take(16).padTo(4, '0')

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    fs.mkdirs(dir)
    val writerTag = Some(s"$queryId:$epochId")
    val prefix = f"part-e$epochId%010d-$queryTok-"
    // Epoch REPLAY detection comes FIRST: the manifest entry is written
    // after the renames, so proof that the original commit published means
    // the replay must be a pure no-op (drop its staging, touch neither
    // targets nor manifest). Deleting/re-renaming here instead would be
    // wrong: a recovered attempt can seal a DIFFERENT non-empty region set
    // (range boundaries are re-sampled), and rewriting targets while
    // keeping the original entry would leave the manifest pointing at
    // deleted files. Three layers, O(1) on the fresh-epoch path:
    //  1. the WRITER HINT (last epoch this query committed, recorded right
    //     after the entry append) — stays correct however many commits
    //     from other writers or this commit's own maintenance pass landed
    //     since (the case where the latest-entry check goes blind, and
    //     where redoing the epoch would double cells AND hygiene-delete
    //     pending-removal files still inside readers' vacuum grace);
    //  2. the latest-entry tag (covers the hint-write crash window in the
    //     single-writer case);
    //  3. only when this epoch's query-unique targets are ON DISK (one
    //     glob; a fresh epoch has none, so it never pays more) — the
    //     bounded recent-entry tag scan, covering the hint-crash window
    //     WITH interleaved commits. A replayed epoch whose targets were
    //     compacted away still matches: deferred deletes keep them on
    //     disk for a full vacuum grace, far longer than any replay gap.
    val latest = KvLog.latestSeq(fs, dir)
    val replayed =
      KvLog.writerEpoch(fs, dir, queryTok).exists(_ >= epochId) ||
        (latest >= 0 &&
          (KvLog.read(fs, dir, latest).exists(_.writer == writerTag) ||
            (fs.globStatus(new Path(dir, prefix + "*")).nonEmpty &&
              KvLog.recentWriterTag(fs, dir, s"$queryId:$epochId"))))
    if (replayed) {
      commitStep.clear() // a recovery replay re-acks, it does not re-maintain
      return
    }
    // First logged commit into a legacy directory: snapshot pre-existing
    // segments into the manifest before this commit's entry (KvLog doc).
    KvLog.seedFromDirIfNeeded(fs, dir)
    KvLog.ensureLogDir(fs, dir)
    // A resalt that landed since this query resolved its layout fails the
    // epoch before any rename (KvSalt.requireLayoutUnchanged): the stream
    // restarts, re-resolves, and continues in the new layout.
    KvSalt.requireLayoutUnchanged(fs, dir,
      saltOnWrite.orElse(saltCheck), s"streaming query $queryId")
    // Incomplete-commit hygiene: a crash between renames and the log append
    // leaves this epoch's targets on disk with no manifest entry — clear
    // every target this epoch could have written before renaming. One
    // glob over the (query, epoch)-scoped prefix covers both writer
    // shapes (one slot per partition, or the salted demux's
    // partition×bucket grid), and can never touch a concurrent query's
    // files. The replay guard above already proved this epoch never
    // published, so anything under the prefix is a torn attempt.
    fs.globStatus(new Path(dir, prefix + "*"))
      .foreach(st => fs.delete(st.getPath, false): Unit)
    val sealedOut = commitStep.seal(fs, dir, commitStep.staged(messages),
      "epoch commit")(slot => s"$prefix$slot.parquet")
    // Losing a seq race to another writer (a second streaming query, a
    // batch append, a compaction rebase) costs a retry of the ONE-entry
    // append — never an epoch abort, and never a repeat of the data
    // renames (targets are query-unique and already in place).
    KvLog.appendRetrying(fs, dir, adds = sealedOut.adds,
      writer = writerTag, stats = sealedOut.stats,
      layoutExpect = Some(saltOnWrite.orElse(saltCheck))): Unit
    // The O(1) replay guard for every future attempt of this epoch —
    // written AFTER the entry so a crash in between falls back to the
    // bounded tag scan, never to data loss.
    KvLog.recordWriterEpoch(fs, dir, queryTok, epochId)
    // Under the threshold the policy pass parks at metadata cost; when it
    // compacts, the trigger interval absorbs the merge, exactly like an
    // HBase flush-path compaction.
    commitStep.finish(maintainPolicy)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    commitStep.clear()
}

/** A writer task's ack: the files it staged. An empty partition acks with
  * no parts; a sink-salted task acks one part per salt bucket it touched.
  */
private[sources] case class KvWriteCommit(parts: Seq[KvStagedFile])
    extends WriterCommitMessage

/** One staged file: its path, the writer slot that names it at seal time,
  * and the manifest stat its writer collected.
  */
private[sources] case class KvStagedFile(file: String, slot: Int,
    stat: Option[KvLog.FileStat] = None)

/** The one writer factory under every graft-kv write — batch and
  * streaming, plain and sink-salted, appends and row-level replacements.
  * An epoch's writer is the batch writer: staged names are task-unique,
  * and the epoch-scoped final name is assigned at commit.
  *
  * `cellIdx` holds each `Cell.schema` column's ordinal in the declared
  * write schema of `declaredLen` columns; `saltOnWrite` makes the sink
  * apply the salt ([[KvTaskWriter]]); `saltCheck` admits only
  * self-consistent stored keys ([[KvSalt.isStored]]).
  */
private[sources] case class KvWriterFactory(stagingDir: String,
    conf: Broadcast[SerializableConfiguration], cellIdx: Array[Int],
    declaredLen: Int, codec: CompressionCodecName,
    allowTombstones: Boolean, saltCheck: Option[Int],
    saltOnWrite: Option[Int])
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvTaskWriter(this, partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

private[sources] object KvWriterFactory {
  /** Each `Cell.schema` column's ordinal in `schema` (-1 when absent). */
  def cellOrdinals(schema: StructType): Array[Int] =
    graft.kv.Cell.schema.fieldNames.map(schema.fieldNames.indexOf(_))
}

/** One writer task: reads the five cell columns by ordinal from each row
  * and streams it into its region file, created on the first row (empty
  * partitions stage nothing, like Spark's own file sinks). Nothing is
  * copied per row; a sink-salted write allocates only the prefixed key.
  */
private[sources] class KvTaskWriter(f: KvWriterFactory, partitionId: Int,
    taskId: Long)
    extends DataWriter[InternalRow] {

  // SALTED writes: each range partition DEMUXES into one file per salt
  // bucket. The partition's rows arrive sorted by LOGICAL (rowKey,
  // qualifier) — the sink's required ordering — so a bucket's rows,
  // sharing a constant stored prefix, are sorted by STORED key: every
  // sealed file keeps the sink's file-sort contract and the
  // bucket×partition grid is pairwise disjoint in stored space. Writer
  // slots fold (partition, bucket) into one number so staged and sealed
  // names can never collide.
  private val n = f.saltOnWrite.getOrElse(0)
  private val prefixes: Array[UTF8String] =
    (0 until n).map(s => UTF8String.fromString(f"$s%03d|")).toArray
  private val files = new Array[KvFileWriter](math.max(n, 1))

  private def fileFor(bucket: Int): KvFileWriter = {
    if (files(bucket) == null) {
      val slot = if (n == 0) partitionId else partitionId * n + bucket
      files(bucket) = new KvFileWriter(f.stagingDir, slot, taskId,
        f.conf.value, f.cellIdx, f.codec, f.allowTombstones, f.saltCheck)
    }
    files(bucket)
  }

  // Leading-extras offset, resolved on the first row: Spark's rewrite
  // plans PREPEND `__row_operation` to the data columns without
  // declaring it in the write schema.
  private var offset = -1
  // DOUBLE-SALT guard (sink-salted writes only): rows here must carry
  // LOGICAL keys — a pipeline built against the pre-salted contract that
  // routes already-stored keys through the sink would get a second
  // prefix the reads would never strip, silently, because the re-salted
  // key is self-consistent. Tracked until the FIRST key that is not in
  // stored form (one 4-byte shape check per row from then on); a
  // non-empty task whose EVERY key already parses as a stored salted key
  // is refused at commit, before any file seals. A table whose logical
  // keys ALL coincidentally match `"%03d|" + suffix` with the matching
  // hash is the (vanishing) false positive; such a pipeline pre-salts
  // explicitly and declares `saltedInput` instead.
  private var rowsIn = 0L
  private var allStored = true

  override def write(row: InternalRow): Unit = {
    if (offset < 0) {
      offset = row.numFields - f.declaredLen
      require(offset == 0 || offset == 1,
        s"graft-kv: row-level replacement rows carry ${row.numFields} " +
          s"fields for a ${f.declaredLen}-column schema — unrecognized " +
          "rewrite-plan layout")
    }
    val k = f.cellIdx(0) + offset
    val key = if (row.isNullAt(k)) null else row.getUTF8String(k)
    if (n == 0 || key == null) fileFor(0).write(row, offset, key)
    else {
      rowsIn += 1
      if (allStored) allStored = KvSalt.isStored(key, n)
      val bucket = KvSalt.saltOfUtf8(key, n)
      fileFor(bucket).write(row, offset, UTF8String.concat(prefixes(bucket), key))
    }
  }

  override def commit(): WriterCommitMessage = {
    require(n == 0 || rowsIn == 0 || !allStored,
      s"graft-kv: every rowKey this task wrote ($rowsIn rows) already " +
        s"parses as a STORED salted key for $n buckets, but the sink " +
        "was asked to salt (saltWrite) — these rows look PRE-salted, " +
        "and salting them again would corrupt the key layout " +
        "irreversibly. A pre-salted pipeline declares " +
        "saltedInput=<n> (the path-API contract) instead of routing " +
        "through the sink-salting surface.")
    KvWriteCommit(files.toSeq.flatMap(w => if (w == null) None else w.finish()))
  }

  override def abort(): Unit = close()

  override def close(): Unit = files.foreach(w => if (w != null) w.close())
}

/** One staged region file. It also collects the file's MANIFEST
  * STATISTICS in-stream (rows, rowKey min/max, ts min/max, bloom,
  * tombstones, families, qualifiers — [[KvLog.FileStat]]): it is the one
  * place every row passes anyway, so the values are exact and the commit
  * carries them to the log for free — no planning-side footer opens, ever,
  * for sink-written segments.
  */
private[sources] class KvFileWriter(stagingDir: String, slot: Int,
    taskId: Long, conf: SerializableConfiguration, cellIdx: Array[Int],
    codec: CompressionCodecName, allowTombstones: Boolean,
    saltCheck: Option[Int]) {

  private val file = f"$stagingDir/part-r-$slot%05d-$taskId.parquet"
  private var writer: ParquetWriter[CellRef] = _
  private val cell = new CellRef

  private val famIdx = cellIdx(1)
  private val qualIdx = cellIdx(2)
  private val tsIdx = cellIdx(4)
  // Distinct family/qualifier sets for file-level pruning
  // ([[KvLog.FileStat.families]]): bounded in-stream collection; past the
  // cap the stat degrades to unknown (null) — wide-domain tables carry no
  // pruning metadata rather than a bloated manifest line. The last-seen
  // copies keep the hot path allocation-free for the overwhelmingly
  // common run of equal consecutive values (sorted single-family files):
  // a bytes-equality probe against the copy short-circuits the
  // toString + TreeSet work.
  private var famSet = new java.util.TreeSet[String]()
  private var qualSet = new java.util.TreeSet[String]()
  private var lastFam: UTF8String = null
  private var lastQual: UTF8String = null
  private var tombstones = 0L
  private var rows = 0L
  // key bounds tracked as UTF8String: compareTo is unsigned UTF-8 BYTE
  // order — the ordering parquet footer stats, Spark string comparisons,
  // and every manifest-stat consumer (prune, min/max pushdown, mask
  // slicing) use. JVM String order (UTF-16 code units) diverges for
  // supplementary-plane keys and would write non-superset bounds.
  private var minKey: UTF8String = null
  private var maxKey: UTF8String = null
  private var minTs = Long.MaxValue
  private var maxTs = Long.MinValue
  private var sawTs = false
  // rowKey bloom for point-lookup pruning (HBase ROW bloom analog):
  // built in-stream like the other stats, carried on the same add line.
  // Self-disables for keyful (post-compaction-sized) files — see KvBloom.
  private val bloom = new KvBloom.Builder

  /** Writes `row`'s cell, every ordinal shifted by `offset`, with `key`
    * (the row's own rowKey or its salted form; null for a null key) as
    * the stored rowKey.
    */
  def write(row: InternalRow, offset: Int, key: UTF8String): Unit = {
    if (writer == null)
      writer = new KvParquetWriterBuilder(new Path(file), cellIdx)
        .withConf(conf.value)
        .withCompressionCodec(codec)
        .build()
    val q = qualIdx + offset
    // Reserved-qualifier admission + tombstone stat (KvDelete doc): a
    // one-byte probe per row, on the write path that already touches
    // every field for the other stats.
    val isMarkerRow = !row.isNullAt(q) && {
      val u = row.getUTF8String(q)
      u.numBytes() > 0 && u.getByte(0) == 0
    }
    if (isMarkerRow) {
      if (!allowTombstones) throw new IllegalArgumentException(
        "graft-kv: qualifier begins with the reserved tombstone prefix " +
          "(\\u0000) — delete markers are written through KvDelete; set " +
          "allowTombstones=true only for deliberate marker-carrying " +
          "writes (replication pipes, compaction rewrites)")
      tombstones += 1
    }
    val fam = famIdx + offset
    if (famSet != null && !row.isNullAt(fam)) {
      val u = row.getUTF8String(fam)
      if (lastFam == null || !u.equals(lastFam)) {
        lastFam = u.clone() // the row buffer is reused — copy before keeping
        famSet.add(lastFam.toString): Unit
        if (famSet.size > KvLog.MaxDistinctFamilies) famSet = null
      }
    }
    if (qualSet != null && !row.isNullAt(q)) {
      val u = row.getUTF8String(q)
      if (lastQual == null || !u.equals(lastQual)) {
        lastQual = u.clone()
        qualSet.add(lastQual.toString): Unit
        if (qualSet.size > KvLog.MaxDistinctQualifiers) qualSet = null
      }
    }
    cell.row = row
    cell.offset = offset
    cell.key = key
    writer.write(cell)
    rows += 1
    if (key != null) {
      // A registered salted table admits only self-consistent stored keys
      // (KvWriteBuilder doc) — one bytes-hash per row, append paths only.
      saltCheck.foreach { n =>
        if (!KvSalt.isStored(key, n))
          throw new IllegalArgumentException(
            s"graft-kv: appending to a table registered as salted with $n " +
              s"buckets, but rowKey '$key' is not " +
              "a stored salted key — catalog writes (SQL INSERT and " +
              "writeStream.toTable) salt in the sink automatically; a " +
              "path-API append pre-salts through KvSalt.salted/saltedWrite " +
              "and declares saltedInput=<n>")
      }
      // .clone() copies out of Spark's reused row buffer — required
      if (minKey == null || key.compareTo(minKey) < 0) minKey = key.clone()
      if (maxKey == null || key.compareTo(maxKey) > 0) maxKey = key.clone()
      bloom.add(key.toString)
    }
    // ts bounds cover PUT rows only: a delete marker's ts is a masking
    // bound, not data — folding it in would poison every consumer of
    // "the newest data ts" (an unbounded forever-marker would upgrade
    // later at-now SQL deletes to forever-deletes, KvDelete.currentMaxTs
    // doc). Metadata min/max(ts) aggregates never see marker-carrying
    // files anyway (the tombstone gate refuses them).
    val t = tsIdx + offset
    if (!row.isNullAt(t) && !isMarkerRow) {
      val ts = row.getLong(t)
      if (ts < minTs) minTs = ts
      if (ts > maxTs) maxTs = ts
      sawTs = true
    }
  }

  /** Closes the file and returns it with its stat; None when no row
    * arrived (nothing was staged).
    */
  def finish(): Option[KvStagedFile] =
    if (writer == null) None
    else {
      writer.close()
      val bytes = new Path(file).getFileSystem(conf.value)
        .getFileStatus(new Path(file)).getLen
      def setOf(s: java.util.TreeSet[String]): Option[Seq[String]] =
        if (s == null || s.isEmpty) None
        else Some({
          val b = Seq.newBuilder[String]
          s.forEach(v => b += v)
          b.result()
        })
      Some(KvStagedFile(file, slot, Some(KvLog.FileStat(rows, bytes,
        Option(minKey).map(_.toString), Option(maxKey).map(_.toString),
        if (sawTs) Some(minTs) else None, if (sawTs) Some(maxTs) else None,
        bloom.buildToken(), tombstones,
        families = setOf(famSet), qualifiers = setOf(qualSet)))))
    }

  def close(): Unit = if (writer != null) writer.close()
}

/** The row a [[KvFileWriter]] hands to parquet: the incoming row, its
  * ordinal offset and the rowKey to store. One per file writer, reused
  * for every row.
  */
private[sources] final class CellRef {
  var row: InternalRow = _
  var offset: Int = 0
  var key: UTF8String = _
}

private[sources] class KvParquetWriterBuilder(p: Path, cellIdx: Array[Int])
    extends ParquetWriter.Builder[CellRef, KvParquetWriterBuilder](p) {
  override def self(): KvParquetWriterBuilder = this
  override def getWriteSupport(conf: Configuration): WriteSupport[CellRef] =
    new CellWriteSupport(cellIdx)
}

/** parquet-mr WriteSupport emitting cells in `Cell.schema` column order,
  * each column read by ordinal from the incoming row and the rowKey from
  * the [[CellRef]]. Physical types match what Spark's parquet writer
  * produces for the cell schema (optional binary/UTF8 strings, optional
  * binary value, optional int64 ts), so connector-written and
  * Spark-written region files are interchangeable to every reader.
  */
private[sources] class CellWriteSupport(cellIdx: Array[Int])
    extends WriteSupport[CellRef] {

  private val names = graft.kv.Cell.schema.fieldNames
  private val types = graft.kv.Cell.schema.fields.map(_.dataType)

  private val messageType: MessageType = {
    val b = Types.buildMessage()
    names.zip(types).foreach {
      case (n, StringType) =>
        b.addField(Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(n))
      case (n, BinaryType) =>
        b.addField(Types.optional(PrimitiveTypeName.BINARY).named(n))
      case (n, LongType) =>
        b.addField(Types.optional(PrimitiveTypeName.INT64).named(n))
      case (n, t) =>
        throw new IllegalStateException(s"graft-kv: unexpected type $t for $n")
    }
    b.named("cell")
  }

  private var consumer: RecordConsumer = _

  override def init(conf: Configuration): WriteSupport.WriteContext =
    new WriteSupport.WriteContext(messageType, Map.empty[String, String].asJava)

  override def prepareForWrite(rc: RecordConsumer): Unit = consumer = rc

  override def write(c: CellRef): Unit = {
    val row = c.row
    consumer.startMessage()
    var i = 0
    while (i < types.length) {
      val ord = cellIdx(i) + c.offset
      val isKey = i == 0
      if (if (isKey) c.key != null else !row.isNullAt(ord)) {
        consumer.startField(names(i), i)
        types(i) match {
          case StringType =>
            val u = if (isKey) c.key else row.getUTF8String(ord)
            consumer.addBinary(Binary.fromReusedByteArray(u.getBytes))
          case BinaryType =>
            consumer.addBinary(Binary.fromReusedByteArray(row.getBinary(ord)))
          case LongType =>
            consumer.addLong(row.getLong(ord))
          case _ => ()
        }
        consumer.endField(names(i), i)
      }
      i += 1
    }
    consumer.endMessage()
  }
}
