package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** SQL `UPDATE` / `MERGE INTO` (and the arbitrary-condition `DELETE`
  * fallback) for `graft-kv` — DSv2 GROUP-BASED row-level operations, the
  * Iceberg copy-on-write shape:
  *
  *  1. Spark builds ONE scan through the operation's
  *     [[KvRowLevelScanBuilder]]. The command's condition prunes GROUPS
  *     (region files) two ways — statically through the manifest
  *     bounds/blooms, and at runtime through the scan's existing
  *     `SupportsRuntimeV2Filtering` rowKey pruning — but is NEVER applied
  *     at row level: a group-based rewrite must read every row of an
  *     affected group (unmatched rows are copied through), so the builder
  *     reports all filters as residual and the readers run filter-free.
  *  2. Catalyst computes the replacement rows (`ReplaceData`: matched
  *     rows modified, the group's other rows copied).
  *  3. The write re-enters the ordinary sink ([[KvRangeSortedWrite]],
  *     [[KvStagedCommit]]), so a rewrite PRESERVES the bulk-load layout,
  *     and its ONE manifest entry adds the new files and removes exactly
  *     the files the scan planned. Readers flip atomically; vacuum
  *     reclaims the replaced files after grace, like any compaction.
  *
  * Concurrency: each publish attempt verifies every scanned group is
  * STILL LIVE — an interleaved compaction/restore that merged one away
  * aborts the operation (its replacement rows were computed from a
  * superseded layout); interleaved pure appends compose (their files are
  * untouched by the removes).
  *
  * Deletes by key stay MARKERS ([[KvDelete]] — the metadata fast path
  * Spark prefers via `SupportsDelete`); this path is the fallback for
  * conditions markers cannot express (`DELETE WHERE ts % 2 = 0`) and the
  * only path for UPDATE/MERGE. Tables carrying LIVE markers COMPOSE with
  * rewrites (the `DELETE FROM ... ; UPDATE ...` sequence every
  * mutable-table user writes):
  *  - the operation's scan is the MASKED view, so the statement's
  *    condition evaluates against the LOGICAL state — a masked put can
  *    never be matched, updated, or copied, and marker cells never enter
  *    the rewrite as rows;
  *  - the commit re-emits the retired groups' markers COMPACTED (newest
  *    per coordinate — [[KvDelete.Mask]]'s lossless rule) as a sidecar
  *    file inside the SAME atomic entry: a marker may mask puts in
  *    groups this rewrite never scanned, and future inserts, so it must
  *    survive the swap;
  *  - masked puts inside the retired groups are physically DROPPED —
  *    the same effect a compaction's `applyMarkers` pass has, and safe
  *    for the same monotonicity reason: a put masked now can never
  *    unmask, because markers are purged only by the major compaction
  *    that drops their masked puts in the same rewrite.
  *
  * SALTED tables compose too: the operation's scan strips the salt and
  * rewrites pruning predicates to stored space (conditions see LOGICAL
  * keys), and the replacement write re-applies the salt per row through
  * the sink-salted writer ([[KvTaskWriter]]). A full rewrite therefore
  * re-certifies [[KvTableInfo.keyContiguousRegions]]; a single-group
  * rewrite stays inside its group's stored bounds and preserves the
  * certification; only a multi-group partial rewrite can interleave
  * bounds with untouched groups (then certification refuses until a
  * compaction normalizes — the same LSM-overlap fallback appends have).
  *
  * At 100 TB: a keyed UPDATE rewrites the few regions holding the keys
  * (runtime group filtering), an unkeyed one is an explicit full rewrite
  * — exactly the copy-on-write cost model, with the marker path available
  * whenever the statement is expressible by key.
  *
  * CDC note: the replacement entry is an ordinary (non-compact) commit,
  * so a `sinceSeq` span covering it surfaces the WHOLE rewritten groups
  * as adds — over-inclusive (copied-through rows reappear) but never
  * lossy, the same coarse-grained CDC a Delta rewrite without CDF
  * produces. Consumers needing row-level change attribution should diff
  * against their previous state ([[graft.ops.SnapshotDiff]]).
  */
private[sources] object KvRowLevelOps {
  /** Test-only injection point: runs at the head of the replacement
    * commit, so a spec can interleave a commit deterministically between
    * the rewrite's read and its publish. Production value is a no-op.
    */
  private[sources] var preCommitHook: () => Unit = () => ()
}

private[sources] class KvRowLevelOperationBuilder(path: String,
    info: RowLevelOperationInfo, conf: SerializableConfiguration)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    // RowLevelOperationInfo options carry NO table properties (only
    // KvCatalogTable's newWriteBuilder injects them, and a rewrite's
    // write builder is constructed by the OPERATION, not the table) — so
    // the recorded `regions`/`codec` are read from the table directory
    // here: a table created with regions=N must not be silently
    // re-laid-out to the default on its first UPDATE/MERGE.
    val dir = new Path(path)
    val props = KvTableProps.read(dir.getFileSystem(conf.value), dir)
    new KvRowLevelOperation(path, info.command, conf, props)
  }
}

private[sources] class KvRowLevelOperation(path: String,
    cmd: RowLevelOperation.Command, conf: SerializableConfiguration,
    props: Map[String, String] = Map.empty)
    extends RowLevelOperation {

  /** The files the operation's scan planned (post static + runtime group
    * pruning) — the groups the replacement write must retire. Written by
    * the scan at plan time, read by the write at commit.
    */
  private[sources] val scannedFiles =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](null)

  override def command(): RowLevelOperation.Command = cmd

  /** The version the operation reads ([[KvReadVersion]]), resolved once:
    * its group scan plans from it, and its salt layout ([[KvSalt]]) is
    * what the scan strips (conditions evaluate on LOGICAL keys, like
    * every other read) and the replacement write re-applies per row.
    */
  private val version = KvReadVersion.current(path, conf.value)
  private val saltBuckets: Option[Int] = version.salt

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvRowLevelScanBuilder(path, conf, scannedFiles, version)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new KvReplaceDataWrite(path, info, conf, scannedFiles, props,
          saltBuckets)
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def description(): String =
    s"GraftKvRowLevelOperation[$cmd] path=$path"
}

/** The operation's scan builder: pushed filters prune GROUPS only. All
  * filters are reported residual (Spark keeps the condition in its
  * rewrite plan); the scan they configure runs its readers FILTER-FREE so
  * every row of a kept group surfaces — the copy-on-write correctness
  * requirement. Statically prunable conditions (rowKey ranges/points)
  * drop whole unaffected groups here; everything else is handled by
  * runtime group filtering and the residual evaluation.
  */
private[sources] class KvRowLevelScanBuilder(path: String,
    conf: SerializableConfiguration,
    record: java.util.concurrent.atomic.AtomicReference[Seq[String]],
    version: KvReadVersion)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  private var pruneFilters: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pruneFilters = filters.filter(KvFilters.supported)
    filters // ALL residual: the source never row-filters a group rewrite
  }

  override def pushedFilters(): Array[Filter] = pruneFilters

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    // Salted tables: prune filters rewrite to STORED key space (exact —
    // KvSalt.expand doc) and the scan strips the salt, so the rewrite
    // plan's condition and copied-through rows all see LOGICAL keys.
    val pushedStored =
      version.salt.fold(pruneFilters)(KvSalt.expandAll(pruneFilters, _))
    new KvScanRecording(
      new KvScan(path, graft.kv.Cell.schema, pushedStored, version,
        sconf = conf, groupPruneOnly = true),
      record)
  }
}

/** Decorates the operation's [[KvScan]] so the FINAL planned file set
  * (after manifest pruning and runtime group filtering) is captured for
  * the replacement commit. Pure delegation otherwise.
  */
private[sources] class KvScanRecording(inner: KvScan,
    record: java.util.concurrent.atomic.AtomicReference[Seq[String]])
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def readSchema(): org.apache.spark.sql.types.StructType =
    inner.readSchema()

  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  override def filterAttributes(): Array[NamedReference] =
    inner.filterAttributes()

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    inner.filter(predicates)

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val parts = inner.planInputPartitions()
    record.set(parts.collect {
      case p: KvFilePartition => new Path(p.file).getName
    }.toSeq.distinct)
    parts
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    inner.createReaderFactory()

  override def description(): String = s"${inner.description()} recording"
}

/** The replacement write: the sink's range-sort contract for the data,
  * plus a commit that atomically swaps the scanned groups for the new
  * files in one manifest entry.
  */
private[sources] class KvReplaceDataWrite(path: String,
    info: LogicalWriteInfo, conf: SerializableConfiguration,
    scannedFiles: java.util.concurrent.atomic.AtomicReference[Seq[String]],
    props: Map[String, String] = Map.empty,
    saltBuckets: Option[Int] = None)
    extends KvRangeSortedWrite {

  // Statement options win; the table's RECORDED properties (regions laid
  // out at CREATE, codec) are the defaults a rewrite must preserve.
  protected val regions: Int =
    Option(info.options.get("regions")).orElse(props.get("regions"))
      .map(_.toInt).getOrElse(8)

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new KvReplaceDataBatchWrite(path, info.schema(), conf, scannedFiles,
      KvCodecs.parse(props.getOrElse("codec", "snappy")), saltBuckets,
      KvTableProps.maintainPolicyOf(props))
}

/** The replacement commit, sealed as `part-b<seq>-<slot>-<token>.parquet`
  * like a batch append, plus the `-m-` marker sidecar. What is its own:
  * the group-liveness publish loop and the sidecar.
  */
private[sources] class KvReplaceDataBatchWrite(path: String,
    writeSchema: org.apache.spark.sql.types.StructType,
    conf: SerializableConfiguration,
    scannedFiles: java.util.concurrent.atomic.AtomicReference[Seq[String]],
    codec: CompressionCodecName = CompressionCodecName.SNAPPY,
    saltBuckets: Option[Int] = None,
    maintainPolicy: Option[KvMaintenance.Policy] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {

  private val commitStep = new KvStagedCommit(path, conf)

  // The ReplaceData query carries OPERATION metadata columns alongside
  // the table columns (`__row_operation` in Spark 4's rewrite plans) —
  // writers read the CELL columns by ordinal and ignore the rest.
  graft.kv.Cell.schema.fieldNames.foreach { n =>
    require(writeSchema.fieldNames.contains(n),
      s"graft-kv: row-level replacement schema ${writeSchema.fieldNames.mkString(",")} " +
        s"lacks cell column $n")
  }

  // The replacement re-applies the table's salt per row (the sink-salted
  // writer); a key it prefixed itself needs no stored-form check.
  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    commitStep.writerFactory(writeSchema, codec, allowTombstones = false,
      saltCheck = None, saltOnWrite = saltBuckets)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    KvRowLevelOps.preCommitHook()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    val removes = Option(scannedFiles.get()).getOrElse(
      throw new IllegalStateException(
        "graft-kv: row-level replacement committed before its scan " +
          "planned — no group set to retire"))
    // One resolution per publish attempt: the expected seq and the live
    // set the liveness check reads come from the same version.
    var version = KvLog.live(fs, dir)
    val seq0 = version.seq + 1
    // The retired groups' delete markers RE-ENTER the table as one
    // compacted sidecar file sealed into the same entry (class doc):
    // dropping them with the groups would resurrect masked puts in
    // unscanned groups and re-open forever-masked coordinates.
    // The sidecar seals under a NON-NUMERIC label ("m"): writer slots are
    // partitionId*buckets+bucket, an unbounded numeric space, so any
    // reserved NUMBER could collide with a real slot at some (partitions,
    // buckets) shape (391×256 reaches 99999) and the two renames would
    // silently collapse into one target. A label outside the numeric
    // namespace cannot; the seal's rename check is the backstop for every
    // other unexpected clash.
    val sidecar = markerSidecar(fs, dir, removes, version.stats)
      .map { case (f, st) => (f, "m", st) }
    val sealedOut = commitStep.seal(fs, dir,
      commitStep.staged(messages) ++ sidecar, "replacement commit")(label =>
      f"part-b$seq0%010d-$label-${commitStep.token}.parquet")
    // Optimistic publish with a GROUP LIVENESS check per attempt, made
    // ATOMIC with the append via expectSeq (the compactor's shape): an
    // interleaved pure append composes (retry re-checks and republishes),
    // but any commit that removed one of the scanned groups (compaction,
    // restore, another rewrite) invalidates the replacement rows — abort
    // and discard rather than publish duplicates of merged-away data.
    // Without expectSeq, a commit landing between the liveness read and
    // the append would slip through and duplicate every rewritten row.
    def discard(): Unit = {
      sealedOut.adds.foreach(n => fs.delete(new Path(dir, n), false): Unit)
      commitStep.clear()
    }
    var attempts = 0
    var committed = false
    while (!committed) {
      val expect = version.seq + 1
      val live = version.names.toSet
      val gone = removes.filterNot(live)
      if (gone.nonEmpty) {
        discard()
        throw new IllegalStateException(
          s"graft-kv: concurrent commit removed ${gone.length} of the " +
            s"groups this rewrite read (${gone.take(3).mkString(", ")}…) — " +
            "the replacement is stale; retry the statement")
      }
      try {
        KvLog.append(fs, dir, adds = sealedOut.adds,
          removes = removes, expectSeq = Some(expect),
          stats = sealedOut.stats,
          // The replacement rows were salted under the layout resolved at
          // operation creation; an insert-only MERGE (removes empty)
          // passes the group-liveness check trivially, so this in-lock
          // expectation is what keeps a mid-operation resalt from landing
          // old-layout rows after the declaration.
          layoutExpect = Some(saltBuckets))
        committed = true
      } catch {
        case e: KvLog.ConcurrentCommitException =>
          attempts += 1
          if (attempts >= 20) { discard(); throw e }
          version = KvLog.live(fs, dir)
      }
    }
    // Maintain-declared tables housekeep after rewrites too: a COW-heavy
    // UPDATE/MERGE workload retires whole groups per statement, and
    // without a pass here those files wait for an unrelated INSERT to be
    // vacuumed.
    commitStep.finish(maintainPolicy)
  }

  /** Read every delete marker physically residing in the retired
    * marker-carrying groups (manifest `d=` stats say which — zero reads
    * for the marker-free common case), compact to the NEWEST marker per
    * (rowKey, family, qualifier), and seal them as ONE sorted sidecar
    * file in the staging dir. Driver-side and bounded: the retired
    * files' live markers are a subset of the table's, which the
    * operation's own masked scan already capped at
    * [[KvDelete.MaxLiveMarkers]] when it built the broadcast mask.
    * Returns the staged file + its (tombstone-carrying) stat, or None
    * when no retired group holds markers.
    */
  private def markerSidecar(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      removes: Seq[String], stats: Map[String, KvLog.FileStat])
      : Option[(String, Option[KvLog.FileStat])] = {
    val tombFiles = removes.filter(n => stats.get(n).exists(_.tombstones > 0))
    if (tombFiles.isEmpty) return None
    val newest =
      new java.util.HashMap[(String, String, String), java.lang.Long]()
    // Exact-version markers (replicated retention drops) are kept
    // DISTINCT, not newest-per-coordinate: each names one version, so
    // the ts<= compression that is lossless for row/column markers
    // would un-delete the older dropped versions. Their VALUE is part
    // of the marker's identity (value-aware matching) and rides along.
    val versions = new java.util.LinkedHashMap[
      (String, String, String, Long, java.nio.ByteBuffer), Array[Byte]]()
    KvDelete.foreachMarkerRow(conf.value, tombFiles.map(n => new Path(dir, n))) {
      (rk, fam, q, ts, v) =>
        if (q.startsWith(KvDelete.VersionMarkerPrefix)) {
          versions.put((rk, fam, q, ts,
            if (v == null) null else java.nio.ByteBuffer.wrap(v)), v): Unit
        } else {
          val key = (rk, fam, q)
          val prev = newest.get(key)
          if (prev == null || prev.longValue() < ts) newest.put(key, ts)
        }
    }
    import scala.jdk.CollectionConverters._
    // sink file order: (rowKey, qualifier) — family disambiguates ties
    val sorted = (newest.asScala.toSeq.map { case ((rk, fam, q), ts) =>
      (rk, fam, q, ts.longValue(), null: Array[Byte])
    } ++ versions.asScala.toSeq.map { case ((rk, fam, q, ts, _), v) =>
      (rk, fam, q, ts, v)
    }).sortBy { case (rk, fam, q, ts, _) =>
      (rk, q, fam, ts)
    }
    // slot -1 stages as "part-r--0001-…": the sign keeps the name outside
    // the non-negative writer slot namespace, so a salted rewrite task
    // staging slot 99998 can never collide with the sidecar.
    val writer = new KvFileWriter(commitStep.stagingDir, slot = -1,
      taskId = 0L, conf, KvWriterFactory.cellOrdinals(graft.kv.Cell.schema),
      codec, allowTombstones = true, saltCheck = None)
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    sorted.foreach { case (rk, fam, q, ts, v) =>
      val key = UTF8String.fromString(rk)
      writer.write(new GenericInternalRow(Array[Any](key,
        UTF8String.fromString(fam), UTF8String.fromString(q), v, ts)), 0, key)
    }
    writer.finish().map(p => (p.file, p.stat))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    commitStep.clear()
}
