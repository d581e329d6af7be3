package graft.sources

import java.util
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The bulk-load WRITE path of the `graft-kv` connector — PopulateTable's
  * HFile invariant (globally range-sorted region files,
  * PopulateTable.java:68's `TotalOrderPartitioner` + sorting reducer) owned
  * by the SINK, not trusted to the caller:
  * [[RequiresDistributionAndOrdering]] makes Spark itself range-partition
  * the input on rowKey into `regions` partitions and sort each by
  * (rowKey, qualifier) before a single writer row is consumed. Any
  * DataFrame written through `format("graft-kv").option("regions", n)`
  * lands as the bulk-load layout — no `repartitionByRange`, no
  * `sortWithinPartitions` at the call site, and no way to forget them.
  *
  * Commit protocol: writers stage in a `_tmp_<uuid>` dir; the driver-side
  * commit renames the acknowledged files into place (one rename per region
  * — metadata-only on HDFS-like stores), APPENDS A MANIFEST-LOG ENTRY
  * listing the sealed files ([[KvLog]] — the atomic publish point every
  * reader consumes), and clears the staging dir, so concurrent speculative
  * attempts can never tear the table. Batch commits seal monotone names
  * `part-b<seq>-<region>.parquet` keyed by the allocated log seq — names
  * stay human-orderable by commit, though with the manifest present no
  * reader depends on name order anymore.
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
    // Opt-in POST-EPOCH MAINTENANCE (`maintain=true` + policy knobs):
    // lifecycle hygiene wired into the write path itself, the HBase shape
    // (region servers trigger compaction checks from the memstore flush)
    // — so a long-lived streaming pipe keeps its segment count bounded
    // without an operator remembering to schedule MaintainTable.
    // Parsed STRICTLY: a malformed value HERE is a typo'd explicit write
    // option, and silently running the write without the maintenance the
    // user asked for would let a long-lived pipe's segment count grow
    // unbounded while the operator believes self-maintenance is on. The
    // other source of these options — catalog-RECORDED properties — is
    // sanitized leniently at injection time ([[KvCatalogTable
    // .newWriteBuilder]]), so out-of-band property corruption still
    // cannot brick a table's INSERT surface; only a value the caller
    // typed on THIS statement fails it.
    def strict[T](key: String, expect: String, parse: String => T): Option[T] =
      Option(info.options.get(key)).map { v =>
        try parse(v) catch {
          case scala.util.control.NonFatal(_) =>
            throw new IllegalArgumentException(
              s"graft-kv: maintenance option $key must be $expect, got '$v'")
        }
      }
    val maintainOn = strict("maintain", "true|false", _.toLowerCase match {
      case "true" => true
      case "false" => false
      case other => throw new IllegalArgumentException(other)
    }).getOrElse(false)
    val maintainPolicy =
      if (!maintainOn) None
      else Some(KvMaintenance.Policy(
        maxSegments = strict("maintainMaxSegments", "an integer", _.toInt)
          .getOrElse(8),
        targetRegionBytes =
          strict("maintainTargetRegionBytes", "a byte count", _.toLong)
            .getOrElse(128L * 1024 * 1024),
        vacuumGraceMs = strict("maintainGraceMs", "a duration in ms", _.toLong)
          .getOrElse(24L * 3600 * 1000),
        // Declarative retention (KvTableProps: `ttl_ms` / `versions`
        // TBLPROPERTIES → these option spellings): enforced by the
        // pass's compaction rewrite, HBase's TTL / VERSIONS contract.
        ttlMs = strict("maintainTtlMs", "a positive duration in ms", { v =>
          val n = v.toLong; require(n >= 1); n
        }),
        maxVersions = strict("maintainVersions", "a positive integer", { v =>
          val n = v.toInt; require(n >= 1); n
        })))
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
    // sorted files ([[KvProjectingWriterFactory]] — the same machinery
    // the row-level replacement write uses). This is what makes plain
    // SQL INSERT / CTAS / INSERT OVERWRITE work on `salt_buckets`
    // tables: the SQL surface is a logical-key surface on BOTH sides
    // (reads strip the salt, writes add it — the Phoenix contract),
    // while the path API keeps its explicit pre-salted contract.
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
      if (saltWrite.isDefined) saltWrite // stored keys validated post-prefix
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

private[sources] class KvWrite(
    path: String, schema: StructType, regions: Int, truncate: Boolean,
    queryId: String, conf: SerializableConfiguration,
    maintainPolicy: Option[KvMaintenance.Policy] = None,
    codec: CompressionCodecName = CompressionCodecName.SNAPPY,
    allowTombstones: Boolean = false,
    saltCheck: Option[Int] = None,
    saltOnWrite: Option[Int] = None)
    extends Write with RequiresDistributionAndOrdering {

  // The sink's contract: range distribution on rowKey across exactly
  // `regions` partitions, each sorted by (rowKey, qualifier) — Spark plans
  // the exchange + sort, the sink just streams rows into region files.
  override def requiredDistribution(): Distribution =
    Distributions.ordered(Array(
      Expressions.sort(Expressions.column("rowKey"), SortDirection.ASCENDING)))

  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("rowKey"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column("qualifier"), SortDirection.ASCENDING))

  override def requiredNumPartitions(): Int = regions

  override def toBatch: BatchWrite =
    new KvBatchWrite(path, schema, truncate, conf, codec, allowTombstones,
      saltCheck, saltOnWrite, maintainPolicy)

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    // Sink-side salting applies to streaming epochs too (r14 — the last
    // salted asymmetry): `writeStream.toTable` into a `salt_buckets`
    // catalog table carries LOGICAL keys and each epoch demuxes into
    // per-bucket stored-sorted files through the same
    // [[KvProjectingWriterFactory]] batch INSERT uses. Sealed names stay
    // deterministic per (query, epoch, writer slot) — slots fold
    // (partition, bucket) — so exactly-once replay recovery is
    // unchanged. A pipeline that PRE-salts its rows (the path-API
    // contract) declares `saltedInput=<n>`, exactly like batch.
    new KvStreamingWrite(path, schema, queryId, conf, maintainPolicy, codec,
      allowTombstones, saltCheck, saltOnWrite)
}

/** The WAL PRODUCER side of the connector — `writeStream.format("graft-kv")`
  * seals one set of region files per micro-batch epoch (the memstore-flush
  * analog: each epoch's state flushes as sorted immutable files).
  *
  * The same [[KvWrite]] distribution/ordering contract applies per epoch, so
  * every sealed segment is range-partitioned and (rowKey, qualifier)-sorted.
  * Each epoch commit appends one [[KvLog]] entry — a `graft-kv` tail of a
  * `graft-kv` streaming sink is a working replication pipe whose admission
  * cost is O(new epochs), not O(table history).
  *
  * Exactly-once: final names are DETERMINISTIC per (epoch, region) — no
  * task id, no uuid — and the log entry carries a `queryId:epochId` writer
  * tag. A replayed epoch after failure recovery first clears this epoch's
  * targets, renames the replay's files over the same names, and the tagged
  * log append deduplicates itself ([[KvLog.append]]), so re-commits are
  * idempotent and a torn epoch is invisible: readers only ever see files
  * named by a completed commit.
  */
private[sources] class KvStreamingWrite(path: String, schema: StructType,
    queryId: String, conf: SerializableConfiguration,
    maintainPolicy: Option[KvMaintenance.Policy] = None,
    codec: CompressionCodecName = CompressionCodecName.SNAPPY,
    allowTombstones: Boolean = false,
    saltCheck: Option[Int] = None,
    saltOnWrite: Option[Int] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val stagingDir = s"$path/_tmp_${UUID.randomUUID().toString.take(8)}"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    saltOnWrite match {
      case Some(n) =>
        // Sink-side salting per epoch (KvWrite.toStreaming doc): the
        // batch demux factory adapted to the streaming createWriter
        // shape — epochId doesn't enter the STAGED names (task-unique
        // already); the deterministic epoch-scoped name is assigned at
        // commit like every streaming seal.
        KvStreamSaltedWriterFactory(KvProjectingWriterFactory(
          stagingDir, KvScanBuilder.broadcastConf(conf),
          cellIdx = graft.kv.Cell.schema.fieldNames
            .map(schema.fieldNames.indexOf(_)).toArray,
          declaredLen = schema.length, codec, saltBuckets = Some(n),
          allowTombstones = allowTombstones))
      case None =>
        KvStreamWriterFactory(stagingDir, schema.fieldNames.toSeq,
          KvScanBuilder.broadcastConf(conf), codec, allowTombstones, saltCheck)
    }

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
      fs.delete(new Path(stagingDir), true)
      return
    }
    // First logged commit into a legacy directory: snapshot pre-existing
    // segments into the manifest before this commit's entry (KvLog doc).
    KvLog.seedFromDirIfNeeded(fs, dir)
    // The log dir must exist BEFORE any data rename so a racing first
    // committer can never mistake this epoch's files for a log-less
    // migration (KvLog.ensureLogDir doc).
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
    val sealedOut = KvCommitMessages.sealedParts(messages.toSeq)
      .map { case (f, slot, st) =>
        val target = new Path(dir, f"$prefix$slot%05d.parquet")
        require(fs.rename(new Path(f), target),
          s"graft-kv: sealing rename $f -> $target failed (target exists " +
            "or source missing) — aborting the epoch commit")
        target.getName -> st
      }
    // Same optimistic entry-append loop as the batch path: losing a seq
    // race to another writer (a second streaming query, a batch append, a
    // compaction rebase) costs a retry of the ONE-entry append — never an
    // epoch abort, and never a repeat of the data renames (targets are
    // query-unique and already in place).
    KvLog.appendRetrying(fs, dir, adds = sealedOut.map(_._1).toSeq,
      writer = writerTag,
      stats = sealedOut.collect { case (n, Some(st)) => n -> st }.toMap,
      layoutExpect = Some(saltOnWrite.orElse(saltCheck))): Unit
    // The O(1) replay guard for every future attempt of this epoch —
    // written AFTER the entry so a crash in between falls back to the
    // bounded tag scan, never to data loss.
    KvLog.recordWriterEpoch(fs, dir, queryTok, epochId)
    fs.delete(new Path(stagingDir), true)
    // Post-epoch policy pass (opt-in): runs AFTER the epoch's entry is
    // durable, so a crash mid-maintenance can never tear the commit — at
    // worst the next epoch's pass redoes the housekeeping (idempotent).
    // Under the threshold it parks at metadata cost; when it compacts,
    // the trigger interval absorbs the merge, exactly like an HBase
    // flush-path compaction. Skipped on the epoch-replay no-op path
    // above: a recovery replay should re-ack, not re-maintain. Best-effort
    // (maintainBestEffort): the epoch entry is durable, and a maintenance
    // failure surfacing here would fail — and re-trigger — a committed
    // epoch.
    maintainPolicy.foreach { p =>
      KvMaintenance.maintainBestEffort(
        org.apache.spark.sql.SparkSession.active, path, p)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staging = new Path(stagingDir)
    val fs = staging.getFileSystem(conf.value)
    fs.delete(staging, true)
  }
}

private[sources] case class KvEpochCommit(file: String, partition: Int,
    stat: Option[KvLog.FileStat] = None)
    extends WriterCommitMessage

private[sources] case class KvStreamWriterFactory(
    stagingDir: String, fieldNames: Seq[String],
    conf: Broadcast[SerializableConfiguration],
    codec: CompressionCodecName = CompressionCodecName.SNAPPY,
    allowTombstones: Boolean = false,
    saltCheck: Option[Int] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  /** Attempts stage under task-unique names; the deterministic FINAL name is
    * assigned at commit, so speculative/retried attempts can never collide.
    */
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new KvDataWriter(stagingDir, fieldNames, partitionId, taskId, conf.value,
      commitAs = (f, st) => KvEpochCommit(f, partitionId, st), codec = codec,
      allowTombstones = allowTombstones, saltCheck = saltCheck)
}

private[sources] case class KvFileCommit(file: String, partition: Int,
    stat: Option[KvLog.FileStat] = None)
    extends WriterCommitMessage

/** Adapts the batch demux factory ([[KvProjectingWriterFactory]]) to the
  * streaming createWriter shape for sink-salted epochs — the inner
  * writers are epoch-agnostic (staged names are task-unique; the
  * epoch-scoped deterministic name is assigned at commit).
  */
private[sources] case class KvStreamSaltedWriterFactory(
    inner: KvProjectingWriterFactory)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] = inner.createWriter(partitionId, taskId)
}

private[sources] object KvCommitMessages {
  /** Normalize writer acks to sealed (staged file, writer slot, stat)
    * triples. Single-file and multi-file (salted demux) messages are
    * accepted by BOTH the batch append commit and the row-level
    * replacement commit through this one helper, so the two commit
    * protocols cannot silently drift on message handling.
    */
  def sealedParts(messages: Seq[WriterCommitMessage])
      : Seq[(String, Int, Option[KvLog.FileStat])] =
    messages.flatMap {
      case KvFileCommit(f, partition, st) if f.nonEmpty =>
        Seq((f, partition, st))
      case KvEpochCommit(f, partition, st) if f.nonEmpty =>
        Seq((f, partition, st))
      case KvMultiFileCommit(parts) => parts.filter(_._1.nonEmpty)
      case _ => Nil
    }
}

private[sources] class KvBatchWrite(path: String, schema: StructType,
    truncate: Boolean, conf: SerializableConfiguration,
    codec: CompressionCodecName = CompressionCodecName.SNAPPY,
    allowTombstones: Boolean = false,
    saltCheck: Option[Int] = None,
    saltOnWrite: Option[Int] = None,
    maintainPolicy: Option[KvMaintenance.Policy] = None)
    extends BatchWrite {

  private val stagingDir = s"$path/_tmp_${UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    saltOnWrite match {
      case Some(n) =>
        // Sink-side salting (KvWriteBuilder doc): logical-key rows, range-
        // partitioned and (rowKey, qualifier)-sorted by the ordinary
        // distribution contract, demux into one stored-sorted file per
        // (partition, bucket) — the replacement write's factory, with the
        // identity projection (no rewrite-plan extras on this path).
        KvProjectingWriterFactory(stagingDir, KvScanBuilder.broadcastConf(conf),
          cellIdx = graft.kv.Cell.schema.fieldNames
            .map(n => schema.fieldNames.indexOf(n)).toArray,
          declaredLen = schema.length, codec, saltBuckets = Some(n),
          allowTombstones = allowTombstones)
      case None =>
        KvWriterFactory(stagingDir, schema.fieldNames.toSeq,
          KvScanBuilder.broadcastConf(conf), codec, allowTombstones, saltCheck)
    }

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
    // Log dir before data renames — see the streaming commit's note.
    KvLog.ensureLogDir(fs, dir)
    // Sealed names carry the current seq as a human-orderable label plus
    // this commit's WRITER-UNIQUE token (the staging dir's uuid): names can
    // never collide across concurrent committers, so losing the log-append
    // race costs a retry of the one-entry append — never a rename of data.
    val seq = KvLog.latestSeq(fs, dir) + 1
    val token = stagingDir.substring(stagingDir.lastIndexOf('_') + 1)
    val sealedOut = KvCommitMessages.sealedParts(messages.toSeq)
      .map { case (f, partition, st) =>
        val target = new Path(dir, f"part-b$seq%010d-$partition%05d-$token.parquet")
        require(fs.rename(new Path(f), target),
          s"graft-kv: sealing rename $f -> $target failed (target exists " +
            "or source missing) — aborting the commit")
        target.getName -> st
      }
    // OPTIMISTIC CONCURRENCY on the entry append (the Delta commit-loop
    // shape): a concurrent committer winning the seq costs this one a
    // re-append under a fresh allocation — bounded attempts, data files
    // untouched. In-process writers never even conflict (KvLog's
    // per-table append lock); this loop is the cross-process path.
    KvLog.appendRetrying(fs, dir, adds = sealedOut.map(_._1).toSeq,
      stats = sealedOut.collect { case (n, Some(st)) => n -> st }.toMap,
      // In-lock twin of the early guard above (closes the rename-window
      // TOCTOU in-process); truncating writes DEFINE the layout instead.
      layoutExpect =
        if (truncate) None else Some(saltOnWrite.orElse(saltCheck))): Unit
    fs.delete(new Path(stagingDir), true)
    // Post-commit policy pass (opt-in `maintain=true` — the streaming
    // epoch commit has run this since r9; batch writes previously parsed
    // the option and silently dropped it). Runs AFTER the entry is
    // durable, so a crash mid-maintenance never tears the commit; the
    // pass is idempotent and parks at metadata cost under the threshold.
    // Catalog tables declare it once as a TABLE property
    // ([[KvTableProps]]) and every INSERT keeps the table maintained —
    // the HBase stance (compaction is the store's job, not a scheduler's).
    // Best-effort: the entry above is already durable, so a housekeeping
    // failure must not fail the INSERT (KvMaintenance.maintainBestEffort).
    maintainPolicy.foreach { p =>
      KvMaintenance.maintainBestEffort(
        org.apache.spark.sql.SparkSession.active, path, p)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val staging = new Path(stagingDir)
    val fs = staging.getFileSystem(conf.value)
    fs.delete(staging, true)
  }
}

private[sources] case class KvWriterFactory(stagingDir: String,
    fieldNames: Seq[String], conf: Broadcast[SerializableConfiguration],
    codec: CompressionCodecName = CompressionCodecName.SNAPPY,
    allowTombstones: Boolean = false,
    saltCheck: Option[Int] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(stagingDir, fieldNames, partitionId, taskId, conf.value,
      commitAs = (f, st) => KvFileCommit(f, partitionId, st), codec = codec,
      allowTombstones = allowTombstones, saltCheck = saltCheck)
}

/** One region file per partition, created lazily on the first row (empty
  * regions produce no file, matching Spark's own file sinks).
  *
  * The writer also collects the file's MANIFEST STATISTICS in-stream
  * (rows, rowKey min/max, ts min/max — [[KvLog.FileStat]]): it is the one
  * place every row passes anyway, so the values are exact and the commit
  * carries them to the log for free — no planning-side footer opens, ever,
  * for sink-written segments.
  */
private[sources] class KvDataWriter(
    stagingDir: String, fieldNames: Seq[String], partitionId: Int, taskId: Long,
    conf: SerializableConfiguration,
    commitAs: (String, Option[KvLog.FileStat]) => WriterCommitMessage,
    codec: CompressionCodecName = CompressionCodecName.SNAPPY,
    allowTombstones: Boolean = false,
    saltCheck: Option[Int] = None)
    extends DataWriter[InternalRow] {

  private val file = f"$stagingDir/part-r-$partitionId%05d-$taskId.parquet"
  private var writer: ParquetWriter[InternalRow] = _

  private val keyIdx = fieldNames.indexOf("rowKey")
  private val tsIdx = fieldNames.indexOf("ts")
  private val qualIdx = fieldNames.indexOf("qualifier")
  private val famIdx = fieldNames.indexOf("family")
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
  private var lastFam: org.apache.spark.unsafe.types.UTF8String = null
  private var lastQual: org.apache.spark.unsafe.types.UTF8String = null
  private var tombstones = 0L
  private var rows = 0L
  // key bounds tracked as UTF8String: compareTo is unsigned UTF-8 BYTE
  // order — the ordering parquet footer stats, Spark string comparisons,
  // and every manifest-stat consumer (prune, min/max pushdown, mask
  // slicing) use. JVM String order (UTF-16 code units) diverges for
  // supplementary-plane keys and would write non-superset bounds.
  private var minKey: org.apache.spark.unsafe.types.UTF8String = null
  private var maxKey: org.apache.spark.unsafe.types.UTF8String = null
  private var minTs = Long.MaxValue
  private var maxTs = Long.MinValue
  private var sawTs = false
  // rowKey bloom for point-lookup pruning (HBase ROW bloom analog):
  // built in-stream like the other stats, carried on the same add line.
  // Self-disables for keyful (post-compaction-sized) files — see KvBloom.
  private val bloom = new KvBloom.Builder

  override def write(row: InternalRow): Unit = {
    if (writer == null)
      writer = new KvParquetWriterBuilder(new Path(file), fieldNames)
        .withConf(conf.value)
        .withCompressionCodec(codec)
        .build()
    // Reserved-qualifier admission + tombstone stat (KvDelete doc): a
    // one-byte probe per row, on the write path that already touches
    // every field for the other stats.
    val isMarkerRow = qualIdx >= 0 && !row.isNullAt(qualIdx) && {
      val q = row.getUTF8String(qualIdx)
      q.numBytes() > 0 && q.getByte(0) == 0
    }
    if (isMarkerRow) {
      if (!allowTombstones) throw new IllegalArgumentException(
        "graft-kv: qualifier begins with the reserved tombstone prefix " +
          "(\\u0000) — delete markers are written through KvDelete; set " +
          "allowTombstones=true only for deliberate marker-carrying " +
          "writes (replication pipes, compaction rewrites)")
      tombstones += 1
    }
    if (famSet != null && famIdx >= 0 && !row.isNullAt(famIdx)) {
      val u = row.getUTF8String(famIdx)
      if (lastFam == null || !u.equals(lastFam)) {
        lastFam = u.clone() // the row buffer is reused — copy before keeping
        famSet.add(lastFam.toString): Unit
        if (famSet.size > KvLog.MaxDistinctFamilies) famSet = null
      }
    }
    if (qualSet != null && qualIdx >= 0 && !row.isNullAt(qualIdx)) {
      val u = row.getUTF8String(qualIdx)
      if (lastQual == null || !u.equals(lastQual)) {
        lastQual = u.clone()
        qualSet.add(lastQual.toString): Unit
        if (qualSet.size > KvLog.MaxDistinctQualifiers) qualSet = null
      }
    }
    writer.write(row)
    rows += 1
    if (keyIdx >= 0 && !row.isNullAt(keyIdx)) {
      // A registered salted table admits only self-consistent stored keys
      // (KvWriteBuilder doc) — one bytes-hash per row, append paths only.
      saltCheck.foreach { n =>
        if (!KvSalt.isStored(row.getUTF8String(keyIdx), n))
          throw new IllegalArgumentException(
            s"graft-kv: appending to a table registered as salted with $n " +
              s"buckets, but rowKey '${row.getUTF8String(keyIdx)}' is not " +
              "a stored salted key — catalog writes (SQL INSERT and " +
              "writeStream.toTable) salt in the sink automatically; a " +
              "path-API append pre-salts through KvSalt.salted/saltedWrite " +
              "and declares saltedInput=<n>")
      }
      val u = row.getUTF8String(keyIdx)
      // .clone() copies out of Spark's reused row buffer — required
      if (minKey == null || u.compareTo(minKey) < 0) minKey = u.clone()
      if (maxKey == null || u.compareTo(maxKey) > 0) maxKey = u.clone()
      bloom.add(u.toString)
    }
    // ts bounds cover PUT rows only: a delete marker's ts is a masking
    // bound, not data — folding it in would poison every consumer of
    // "the newest data ts" (an unbounded forever-marker would upgrade
    // later at-now SQL deletes to forever-deletes, KvDelete.currentMaxTs
    // doc). Metadata min/max(ts) aggregates never see marker-carrying
    // files anyway (the tombstone gate refuses them).
    if (tsIdx >= 0 && !row.isNullAt(tsIdx) && !isMarkerRow) {
      val t = row.getLong(tsIdx)
      if (t < minTs) minTs = t
      if (t > maxTs) maxTs = t
      sawTs = true
    }
  }

  override def commit(): WriterCommitMessage = {
    if (writer == null) commitAs("", None)
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
      commitAs(file, Some(KvLog.FileStat(rows, bytes,
        Option(minKey).map(_.toString), Option(maxKey).map(_.toString),
        if (sawTs) Some(minTs) else None, if (sawTs) Some(maxTs) else None,
        bloom.buildToken(), tombstones,
        families = setOf(famSet), qualifiers = setOf(qualSet))))
    }
  }

  override def abort(): Unit = close()

  override def close(): Unit = if (writer != null) writer.close()
}

private[sources] class KvParquetWriterBuilder(p: Path, fieldNames: Seq[String])
    extends ParquetWriter.Builder[InternalRow, KvParquetWriterBuilder](p) {
  override def self(): KvParquetWriterBuilder = this
  override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
    new CellWriteSupport(fieldNames)
}

/** parquet-mr WriteSupport emitting cell rows in the INPUT's column order —
  * physical types match what Spark's parquet writer produces for the cell
  * schema (optional binary/UTF8 strings, optional binary value, optional
  * int64 ts), so connector-written and Spark-written region files are
  * interchangeable to every reader.
  */
private[sources] class CellWriteSupport(fieldNames: Seq[String])
    extends WriteSupport[InternalRow] {

  private val types = {
    val bySchema = graft.kv.Cell.schema.fields.map(f => f.name -> f.dataType).toMap
    fieldNames.map(bySchema).toArray
  }

  private val messageType: MessageType = {
    val b = Types.buildMessage()
    fieldNames.zip(types).foreach {
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

  override def write(row: InternalRow): Unit = {
    consumer.startMessage()
    var i = 0
    while (i < types.length) {
      if (!row.isNullAt(i)) {
        consumer.startField(fieldNames(i), i)
        types(i) match {
          case StringType =>
            consumer.addBinary(Binary.fromReusedByteArray(row.getUTF8String(i).getBytes))
          case BinaryType =>
            consumer.addBinary(Binary.fromReusedByteArray(row.getBinary(i)))
          case LongType =>
            consumer.addLong(row.getLong(i))
          case _ => ()
        }
        consumer.endField(fieldNames(i), i)
      }
      i += 1
    }
    consumer.endMessage()
  }
}
