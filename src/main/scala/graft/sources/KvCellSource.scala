package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader => PqReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** S1/S2 as an engine-OWNED DataSource V2 connector (`graft-kv`), replacing
  * the inherited-from-parquet modeling of the KV scan: the reference's scan
  * is a pluggable input format wired by `TableMapReduceUtil
  * .initTableMapperJob` (ExportHBaseTableToDelimiteredTxt.java:75-80) with
  * the column-family filter applied by the SERVER (`scan.addFamily`), not
  * the consumer. This source is that architecture on Spark:
  *
  *  - one `InputPartition` per region file of the range layout
  *    ([[graft.kv.RangeLayout.layout]] — the modeled HBase region),
  *  - rowKey range predicates prune whole REGIONS at planning time from the
  *    parquet footer min/max of the sorted region files (the scan-range →
  *    region-server routing of a real HBase scan; at 1000 executors the
  *    pruned regions are never even scheduled),
  *  - family/qualifier/rowKey/ts predicates are pushed into the parquet
  *    record reader (`FilterCompat`) so row-group stats skip pages and
  *    non-matching rows never surface — the `scan.addFamily` analog,
  *  - column pruning reaches the reader's requested schema
  *    (`SupportsPushDownRequiredColumns`), so a 2-column projection reads
  *    2 columns.
  *
  * Pushed filters are also RETAINED as a residual for Spark to re-apply —
  * the same belt-and-braces contract as Spark's own parquet source (the
  * source's filtering is an I/O optimization, never the correctness
  * boundary).
  */
class KvCellSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kv"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.kv.Cell.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "graft-kv: a path is required")
    new KvCellTable(path)
  }
}

private[sources] class KvCellTable(path: String,
    extraReadOptions: Map[String, String] = Map.empty) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** The SESSION's Hadoop conf (spark.hadoop.* settings, filesystem
    * credentials, defaultFS), captured driver-side at builder time and
    * shipped to executors by broadcast ([[KvScanBuilder.broadcastConf]]) —
    * `new Configuration()` would silently drop cluster credentials/
    * filesystem config (works in local tests, misroutes I/O on a
    * configured cluster).
    */
  private def sessionConf: SerializableConfiguration =
    new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  override def name(): String = s"graft-kv `$path`"
  override def schema(): StructType = graft.kv.Cell.schema

  /** [[KvIndexRouting]] hook for the PRE-pushdown plan shape (a
    * `DataSourceV2Relation` still carrying this table): the path, but
    * only when no catalog-injected read options (VERSION/TIMESTAMP AS OF)
    * re-scope the read — those answer for a pinned version, not the
    * current view an index lookup serves.
    */
  private[sources] def routablePath: Option[String] =
    if (extraReadOptions.isEmpty) Some(path) else None
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
  /** Scan-scope options (`family` / `qualifier` / `minRowKey` inclusive /
    * `maxRowKey` exclusive) become source-enforced filters. They exist for
    * the STREAMING tail, where Catalyst's V2 filter pushdown does not apply
    * (pushdown rewrites batch scan relations only — a `.filter` on a stream
    * is always a residual): an HBase replication peer scopes what it ships
    * by table/family CONFIGURATION, not by consumer-side predicates, and
    * these options are that contract. They work identically on batch reads.
    */
  override def newScanBuilder(options0: CaseInsensitiveStringMap): ScanBuilder = {
    // Catalog-injected read options (VERSION AS OF / TIMESTAMP AS OF —
    // GraftKvCatalog.loadTable) override the statement's, which SQL can't
    // set anyway.
    val options =
      if (extraReadOptions.isEmpty) options0
      else {
        val m = new java.util.HashMap[String, String](options0.asCaseSensitiveMap())
        extraReadOptions.foreach { case (k, v) => m.put(k, v) }
        new CaseInsensitiveStringMap(m)
      }
    val maxFiles = Option(options.get("maxFilesPerBatch")).map(_.toInt)
    maxFiles.foreach(n => require(n > 0, s"maxFilesPerBatch must be positive: $n"))
    val maxBytes = Option(options.get("maxBytesPerBatch")).map(_.toLong)
    maxBytes.foreach(n => require(n > 0, s"maxBytesPerBatch must be positive: $n"))
    val scope: Array[Filter] = Seq[Option[Filter]](
      Option(options.get("family")).map(EqualTo("family", _)),
      Option(options.get("qualifier")).map(EqualTo("qualifier", _)),
      Option(options.get("minRowKey")).map(GreaterThanOrEqual("rowKey", _)),
      Option(options.get("maxRowKey")).map(LessThan("rowKey", _))).flatten.toArray
    // `tailId` registers a streaming tail's progress with the table's
    // manifest so compaction parks on it (KvTailStream.commit doc).
    // `asOfSeq` is a TIME-TRAVEL batch read: the table as of that manifest
    // entry (KvLog.live doc); `asOfTime` (epoch millis) resolves to the
    // last version PUBLISHED at or before that instant (KvLog.seqAtTime —
    // the Delta timestampAsOf analog). `sinceSeq` is an INCREMENTAL (CDC)
    // batch read: only the cells committed in `(sinceSeq, asOfSeq|latest]`
    // (KvLog.changes doc). The version options are batch-only — a stream's
    // position IS its version, so they are rejected at stream
    // construction; `sinceSeq` alone is ALSO meaningful on a stream, where
    // it sets a fresh checkpoint's RESUME position
    // (KvTailStream.initialOffset — the CDC recovery bridge).
    val conf = sessionConf
    val asOfSeq = Option(options.get("asOfSeq")).map(_.toLong)
    val asOfTime = Option(options.get("asOfTime")).map(_.toLong)
    require(asOfSeq.isEmpty || asOfTime.isEmpty,
      "graft-kv: asOfSeq and asOfTime are mutually exclusive — a read names " +
        "its version by seq OR by publish instant, not both")
    val asOf = asOfSeq.orElse(asOfTime.map { t =>
      val dir = new org.apache.hadoop.fs.Path(path)
      KvLog.seqAtTime(dir.getFileSystem(conf.value), dir, t)
    })
    // `snapshot` reads a NAMED snapshot ([[KvSnapshot]]) — like asOfSeq
    // but planned from the snapshot's self-contained manifest, so it
    // stays readable after log truncation and is vacuum-protected.
    val snapshot = Option(options.get("snapshot"))
    val sinceSeq = Option(options.get("sinceSeq")).map(_.toLong)
    require(snapshot.isEmpty ||
        (asOf.isEmpty && sinceSeq.isEmpty),
      "graft-kv: snapshot is mutually exclusive with asOfSeq/asOfTime/" +
        "sinceSeq — a snapshot read plans from its own manifest, not a " +
        "log version")
    // `saltBuckets` declares the table was written through
    // [[KvSalt.salted]] with this bucket count: the scan strips the salt
    // from every emitted rowKey and rewrites rowKey predicates (pushed
    // AND scope) to stored form. Must match the writer's `n` — KvSalt doc.
    val optionBuckets = Option(options.get("saltBuckets")).map(_.toInt)
    optionBuckets.foreach(KvSalt.requireBuckets)
    // The read's ONE version: seq, salt layout at that seq, file set.
    val version = KvReadVersion.resolve(path, conf.value, asOf, sinceSeq,
      snapshot, optionBuckets)
    // `splitRegionBytes` plans MULTIPLE byte-range partitions over any
    // region file larger than it — intra-region scan parallelism for a
    // monolith the layout hasn't normalized yet (KvScan doc; NOT for
    // per-partition whole-key algorithms like the presorted pivot).
    val splitBytes = Option(options.get("splitRegionBytes")).map(_.toLong)
    splitBytes.foreach(b => require(b > 0,
      s"graft-kv: splitRegionBytes must be positive, got $b"))
    // `readTombstones=true` bypasses delete-marker masking ([[KvDelete]]):
    // the raw replication/debug view — markers and masked puts included.
    val readTombstones =
      Option(options.get("readTombstones")).exists(_.toBoolean)
    new KvScanBuilder(path, version, maxFiles, scope, conf,
      Option(options.get("tailId")), maxBytes, splitBytes, readTombstones)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new KvWriteBuilder(path, info, sessionConf)

  /** SQL `DELETE FROM` / `TRUNCATE TABLE` ([[KvDelete]]): a supported
    * condition commits delete MARKERS — one small sorted append, never a
    * rewrite — and every subsequent scan masks it. Unsupported shapes are
    * refused whole (no partial deletes).
    */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    KvDelete.translateSqlDelete(filters).isDefined

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    KvDelete.runSqlDelete(spark, path,
      KvDelete.translateSqlDelete(filters).getOrElse(
        throw new UnsupportedOperationException(
          s"graft-kv: unsupported DELETE condition [${filters.mkString(", ")}] " +
            "— delete by rowKey (=/IN) or a rowKey range/prefix, optionally " +
            "AND family+qualifier equality and/or a ts upper bound")))
    // A maintain-declared table's housekeeping triggers on the DML that
    // CREATES the garbage, not just on INSERTs: marker-only workloads
    // (GDPR-style erasure) would otherwise pile up tombstone segments
    // until the read-path marker cap with no pass ever running. The
    // props read + policy parse happen INSIDE the best-effort guard —
    // the DELETE above is already committed.
    KvMaintenance.maintainIfDeclared(spark, path)
  }

  /** SQL `UPDATE` / `MERGE INTO` (and the DELETE fallback for conditions
    * markers cannot express): group-based copy-on-write rewrites through
    * [[KvRowLevelOperation]]. Keyed DELETEs keep taking the marker fast
    * path above — Spark's metadata-delete optimization prefers it when
    * [[canDeleteWhere]] accepts.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new KvRowLevelOperationBuilder(path, info, sessionConf)
}

private[sources] class KvScanBuilder(path: String,
    /** The read's version, resolved once ([[KvReadVersion]]). */
    version: KvReadVersion,
    maxFilesPerBatch: Option[Int] = None,
    scopeFilters: Array[Filter] = Array.empty,
    conf: SerializableConfiguration = KvScanBuilder.activeConf,
    tailId: Option[String] = None,
    maxBytesPerBatch: Option[Long] = None,
    splitRegionBytes: Option[Long] = None,
    readTombstones: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  /** Test construction: a builder over `path`'s current version. */
  def this(path: String) =
    this(path, KvReadVersion.current(path, KvScanBuilder.activeConf.value))

  private def saltBuckets = version.salt
  /** The span crosses a salt declaration (r19, [[KvReadVersion]]):
    * per-file layout resolution, NO key-space pushdown of any kind.
    */
  private def mixedSaltSpan = version.mixedSalt

  private var required: StructType = graft.kv.Cell.schema
  private var accepted: Array[Filter] = Array.empty
  private var statsAggs: Option[Seq[KvStatsScan.Spec]] = None
  private var limit: Option[Int] = None
  private var ordered: Boolean = false
  private var descending: Boolean = false
  private var orderedCols: Int = 1

  /** LIMIT pushdown, always PARTIAL (the default `isPartiallyPushed` —
    * Spark keeps its own global Limit above the scan, so the source only
    * has to not UNDER-produce): an interactive `LIMIT n` inspection of a
    * 1000-region table must not schedule 1000 tasks. Two effects in
    * [[KvScan]]: with no pushed filters, file planning stops once footer
    * row counts cover `n` (O(limit) tasks, not O(table)); with filters,
    * every file stays planned (a file's matching-row count is unknown) but
    * each reader stops after `n` post-filter rows — safe because the
    * parquet record filter is exact, so the union still carries at least
    * `min(n, total matching)` rows.
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** TOP-N pushdown for `ORDER BY rowKey [ASC|DESC] LIMIT n` — the HBase
    * "scan from the table start" / "newest keys" inspections (the DESC
    * form mirrors AvroReader.java:27-30's limit pointed at the key tail).
    * Region files are internally (rowKey, qualifier)-sorted, so a file's
    * contribution to the global top-n is bounded either way:
    *  - ASC: its FIRST `n` rows — each reader stops at `n` rows;
    *  - DESC: its LAST `n` rows — each reader ring-buffers the tail `n`
    *    and, with no filters, plans only the file's TAIL row groups
    *    (footer row counts are exact), so the task reads O(n) rows too.
    * Spark's retained TopN (partial pushdown) merges the ≤ n×files
    * survivors. No file is dropped — commits overlap like LSM runs, so
    * ANY file may hold globally-extreme keys — but every task emits O(n)
    * rows instead of O(file). Multi-column or non-rowKey orders are
    * refused, as is a NON-DEFAULT null ordering: rowKey is never null in
    * practice, but the reader's bound says nothing about where nulls
    * sort, so only the direction's default (ASC+NULLS_FIRST,
    * DESC+NULLS_LAST — where the null placement cannot matter for a
    * non-null column) is accepted rather than assumed.
    */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder], l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    // Accept any UNIFORM-direction prefix of the sink's file sort order
    // (rowKey[, qualifier]): a sink-written file is lexicographically
    // (rowKey, qualifier)-sorted, so its first n rows contain a valid
    // top-n under the exact 2-column order AND under the weaker
    // rowKey-only order (the n smallest (rk,q) pairs have the n smallest
    // rowKeys as a multiset); reversed, its last n rows serve the DESC
    // mirror. Mixed directions (rowKey ASC, qualifier DESC) have no
    // contiguous-run shape in the file and fall back to the full sort.
    val cols = orders.toSeq.map(_.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    })
    val onPrefix = orders.nonEmpty &&
      cols.flatten.length == orders.length &&
      cols.flatten == Seq("rowKey", "qualifier").take(orders.length)
    val uniform = orders.map(_.direction()).distinct.length == 1
    val desc = uniform && orders(0).direction() == SortDirection.DESCENDING
    val defaultNulls = orders.forall(o => o.direction() match {
      case SortDirection.ASCENDING =>
        o.nullOrdering() == NullOrdering.NULLS_FIRST
      case SortDirection.DESCENDING =>
        o.nullOrdering() == NullOrdering.NULLS_LAST
    })
    // The DESC reader BUFFERS n rows per task (the ring), so a huge top-n
    // would turn every task into an n-row heap consumer — refuse past an
    // inspection-sized bound and let the ordinary sort handle it (ASC
    // needs no cap: its reader only counts). A SALTED table refuses all
    // top-n: file order is stored (salt-interleaved) order, so a file's
    // first/last n rows bound nothing about the logical-key top-n.
    if (onPrefix && uniform && defaultNulls && saltBuckets.isEmpty &&
        !mixedSaltSpan && // per-file stripped order is not file order
        !(desc && l > KvScanBuilder.MaxDescTopN)) {
      limit = Some(l); ordered = true
      descending = desc
      orderedCols = orders.length
      true
    } else false
  }

  /** Both pushdowns are PARTIAL: Spark always retains its own global
    * Limit/TopN, the source only guarantees it never under-produces.
    * (Explicit override required — both parent traits carry the default.)
    */
  override def isPartiallyPushed(): Boolean = true

  /** Accept what the parquet reader (or the region pruner) can use; report
    * the rest as residual-only. Everything — accepted included — is returned
    * for Spark to re-evaluate (see class doc).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // A mixed-salt span accepts NOTHING: pushed predicates (and the
    // pruning/blooms/record filters derived from them) live in STORED
    // key space, which differs across the span's layout epochs — Spark
    // re-evaluates every filter on the logical keys the readers emit.
    accepted = if (mixedSaltSpan) Array.empty
      else filters.filter(KvFilters.supported)
    filters
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT(*) / MIN(ts) / MAX(ts) / MIN(rowKey) / MAX(rowKey) with no
    * grouping and NO filters are answered from METADATA — zero data pages
    * read; at 100 TB a table-stats query costs one manifest replay (or
    * footer pass, for legacy files) instead of a scan. The rowKey bounds
    * are served from MANIFEST stats ONLY: parquet writers may truncate
    * binary footer statistics (a truncated bound is a prefix, not the
    * value), but the sink's writer-collected bounds are exact — so the
    * key aggregates are accepted only when every planned file carries
    * stats (the [[plannedStats]] gate); int64 ts footer stats are
    * always exact and need no such gate. Any filter (even one the source
    * itself enforces) disables the rewrite: Spark re-evaluates pushed
    * filters as residuals ABOVE the scan, which would re-filter the one
    * stats row.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    accepted.isEmpty && scopeFilters.isEmpty &&
      KvStatsScan.translate(agg).exists(servable)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // Scope options also disable the metadata rewrite: file-level stats
    // cover the whole file, so they cannot answer a scoped count.
    if (accepted.nonEmpty || scopeFilters.nonEmpty) return false
    KvStatsScan.translate(agg).filter(servable) match {
      case some @ Some(_) => statsAggs = some; true
      case None => false
    }
  }

  private def servable(specs: Seq[KvStatsScan.Spec]): Boolean =
    // A table carrying live DELETE MARKERS refuses every metadata
    // aggregate: file stats count marker rows and masked puts, so a
    // metadata COUNT/MIN/MAX would answer for the RAW table while the
    // scan it replaces answers for the MASKED one. Raw views — a
    // `readTombstones` scan, or a `sinceSeq` change feed (KvScan
    // .maskingActive doc) — ARE the raw rows, still servable.
    (readTombstones || version.since.isDefined ||
      plannedStats.exists(_.forall(_.stat.forall(_.tombstones == 0L)))) &&
    (!specs.exists(s => s == KvStatsScan.MinKeySpec || s == KvStatsScan.MaxKeySpec) ||
      // Salted tables refuse the key aggregates outright: manifest bounds
      // are STORED (salt-prefixed) keys, whose min/max says nothing about
      // the logical extremes. Exact key bounds additionally need EVERY
      // planned file to carry manifest stats (footer string statistics
      // may be truncated).
      (saltBuckets.isEmpty && !mixedSaltSpan &&
        plannedStats.exists(_.forall(_.stat.isDefined))))

  /** The version's file set, the one replay every pushdown-feasibility
    * check here (the tombstone gate, the key-bounds gate) and the scan
    * built after them share. None = unreadable here; the refusal lets
    * the real scan fail with the precise error.
    */
  private def plannedStats: Option[Seq[KvLog.LiveFile]] =
    try Some(version.files) catch { case _: Exception => None }

  /** Scope filters join the pushed set. Unlike Catalyst-pushed filters,
    * Spark never re-evaluates them as residuals — the parquet record filter
    * (exact, row-level) is their correctness boundary, not an optimization.
    */
  override def build(): Scan = statsAggs match {
    case Some(specs) =>
      new KvStatsScan(path, specs, version, conf)
    case None =>
      // Salted tables: every rowKey predicate — Catalyst-pushed AND
      // scope-option — rewrites to stored key space before it reaches the
      // parquet filter, the region pruner, or the bloom prober. Exact by
      // construction (KvSalt.expand doc), so the residual contract and the
      // reader limit cap are unchanged. EXCEPT on a mixed-salt span: the
      // rowKey scope has no single stored form there, so it leaves the
      // pushed set and the readers enforce it on the emitted logical key
      // instead ([[KvRowScope]], r20).
      val (rowScope, otherScope) =
        if (mixedSaltSpan)
          scopeFilters.partition(_.references.contains("rowKey"))
        else (Array.empty[Filter], scopeFilters)
      val logicalScope =
        if (rowScope.isEmpty) None
        else Some((
          rowScope.collectFirst {
            case GreaterThanOrEqual("rowKey", v: String) => v },
          rowScope.collectFirst { case LessThan("rowKey", v: String) => v }))
      val effective = (accepted ++ otherScope).distinct
      val pushedStored = saltBuckets.fold(effective)(KvSalt.expandAll(effective, _))
      new KvScan(path, required, pushedStored, version,
        maxFilesPerBatch, conf, tailId, limit, ordered, descending,
        maxBytesPerBatch, orderedCols, splitRegionBytes, readTombstones,
        logicalKeyScope = logicalScope)
  }
}

private[sources] object KvScanBuilder {
  /** Largest DESC top-n served by the buffering tail reader (1M rows ≈ a
    * few hundred MB of cells per task at worst) — larger asks are not
    * "newest keys" inspections and plan as a regular sort.
    */
  val MaxDescTopN: Int = 1 << 20

  /** Test-construction fallback: the active session's Hadoop conf. */
  def activeConf: SerializableConfiguration =
    new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  /** `conf` broadcast once per reader/writer factory (Spark's `ParquetScan`
    * pattern): embedded in a factory, a conf of about 1,100 entries is
    * deserialized again inside every task.
    */
  def broadcastConf(conf: SerializableConfiguration)
      : Broadcast[SerializableConfiguration] =
    org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(conf)
}

/** Metadata-only scan serving pushed aggregates from the version's
  * manifest stats (parquet footers for stat-less files) — the version
  * the builder's gates already planned, never a later one.
  */
private[sources] class KvStatsScan(path: String, specs: Seq[KvStatsScan.Spec],
    version: KvReadVersion,
    sconf: SerializableConfiguration = KvScanBuilder.activeConf)
    extends Scan with Batch {

  import KvStatsScan._

  override def readSchema(): StructType = StructType(specs.zipWithIndex.map {
    case (CountStarSpec, i) =>
      org.apache.spark.sql.types.StructField(s"agg$i", LongType, nullable = false)
    case (MinKeySpec | MaxKeySpec, i) =>
      org.apache.spark.sql.types.StructField(s"agg$i", StringType, nullable = true)
    case (_, i) =>
      org.apache.spark.sql.types.StructField(s"agg$i", LongType, nullable = true)
  })

  private lazy val values: Array[Any] = {
    val conf = sconf.value
    var count = 0L
    var tsMin: Option[Long] = None
    var tsMax: Option[Long] = None
    var keyMin: Option[String] = None
    var keyMax: Option[String] = None
    version.files.foreach {
      // Manifest-carried stats answer without touching the file at all —
      // a stats query over a logged 100-TB table is one log replay, zero
      // footer round-trips. Absent ts/key bounds inside a stat mean every
      // row had a null there: genuinely no contribution, not missing data.
      case KvLog.LiveFile(_, _, Some(st)) =>
        count += st.rows
        st.minTs.foreach(lo => tsMin = Some(tsMin.fold(lo)(math.min(_, lo))))
        st.maxTs.foreach(hi => tsMax = Some(tsMax.fold(hi)(math.max(_, hi))))
        // byte-order union: Spark's min/max over strings is UTF8String
        // (byte) order — a UTF-16 union could serve a wrong aggregate
        st.minKey.foreach(lo => keyMin = Some(keyMin.fold(lo)(graft.kv.Utf8Order.min(_, lo))))
        st.maxKey.foreach(hi => keyMax = Some(keyMax.fold(hi)(graft.kv.Utf8Order.max(_, hi))))
      case KvLog.LiveFile(name, _, None) =>
        // Stat-less legacy file: footer fallback serves count and ts (int64
        // footer stats are exact); key bounds never get here — the builder
        // only accepts key aggregates when every file carries stats.
        val f = new Path(version.table, name)
        val r = KvFilters.openFooter(HadoopInputFile.fromPath(f, conf), conf)
        try r.getRowGroups.asScala.foreach { block =>
          count += block.getRowCount
          block.getColumns.asScala.find(_.getPath.toDotString == "ts").foreach { c =>
            val st = c.getStatistics
            require(st != null && !st.isEmpty,
              s"graft-kv: ts statistics missing in $f — cannot serve pushed min/max")
            if (st.hasNonNullValue) {
              val lo = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
              val hi = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
              tsMin = Some(tsMin.fold(lo)(math.min(_, lo)))
              tsMax = Some(tsMax.fold(hi)(math.max(_, hi)))
            }
          }
        } finally r.close()
    }
    specs.map {
      case CountStarSpec => count: Any
      case MinTsSpec => tsMin.map(Long.box).orNull: Any
      case MaxTsSpec => tsMax.map(Long.box).orNull: Any
      case MinKeySpec => keyMin.orNull: Any
      case MaxKeySpec => keyMax.orNull: Any
    }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(KvStatsPartition(values))

  override def createReaderFactory(): PartitionReaderFactory = KvStatsReaderFactory()

  override def toBatch: Batch = this

  override def description(): String =
    s"GraftKvScan path=$path aggPushed=[${specs.mkString(", ")}] metadata-only"
}

private[sources] object KvStatsScan {
  sealed trait Spec
  case object CountStarSpec extends Spec { override def toString = "COUNT(*)" }
  case object MinTsSpec extends Spec { override def toString = "MIN(ts)" }
  case object MaxTsSpec extends Spec { override def toString = "MAX(ts)" }
  case object MinKeySpec extends Spec { override def toString = "MIN(rowKey)" }
  case object MaxKeySpec extends Spec { override def toString = "MAX(rowKey)" }

  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}

  private def ref(e: org.apache.spark.sql.connector.expressions.Expression,
      name: String): Boolean =
    e match {
      case nr: NamedReference => nr.fieldNames.toSeq == Seq(name)
      case _ => false
    }

  def translate(agg: Aggregation): Option[Seq[Spec]] = {
    if (agg.groupByExpressions.nonEmpty) return None
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(CountStarSpec)
      case m: Min if ref(m.column, "ts") => Some(MinTsSpec)
      case m: Max if ref(m.column, "ts") => Some(MaxTsSpec)
      case m: Min if ref(m.column, "rowKey") => Some(MinKeySpec)
      case m: Max if ref(m.column, "rowKey") => Some(MaxKeySpec)
      case _ => None
    }
    if (specs.forall(_.isDefined)) Some(specs.map(_.get)) else None
  }
}

/** The one stats row, shipped driver→executor as plain JVM values
  * (Long/String/null per spec slot) and materialized to Catalyst types in
  * the reader.
  */
private[sources] case class KvStatsPartition(vals: Array[Any])
    extends InputPartition

private[sources] case class KvStatsReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val vals = partition.asInstanceOf[KvStatsPartition].vals
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = new GenericInternalRow(
        vals.map {
          case s: String => UTF8String.fromString(s): Any
          case v => v
        })
      override def close(): Unit = ()
    }
}

private[sources] class KvScan(path: String, required: StructType, pushed: Array[Filter],
    /** The read's version ([[KvReadVersion]]): seq, salt layout, files. */
    version: KvReadVersion,
    maxFilesPerBatch: Option[Int] = None,
    sconf: SerializableConfiguration = KvScanBuilder.activeConf,
    tailId: Option[String] = None,
    limit: Option[Int] = None,
    ordered: Boolean = false,
    descending: Boolean = false,
    maxBytesPerBatch: Option[Long] = None,
    orderedCols: Int = 1,
    splitRegionBytes: Option[Long] = None,
    readTombstones: Boolean = false,
    /** Row-level-operation mode ([[KvRowLevelScanBuilder]]): pushed
      * filters prune region files only; readers run filter-free so every
      * row of a kept group surfaces for the copy-on-write rewrite.
      */
    groupPruneOnly: Boolean = false,
    /** minRowKey/maxRowKey scope of a mixed-salt span (r20): enforced by
      * the readers on the emitted LOGICAL key — the bound has no single
      * stored form across the span's layouts, so it cannot ride the
      * record filter or prune files. (inclusive min, exclusive max)
      */
    logicalKeyScope: Option[(Option[String], Option[String])] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** Test construction: a plain scan of `path`'s current version. */
  def this(path: String, required: StructType, pushed: Array[Filter]) =
    this(path, required, pushed,
      KvReadVersion.current(path, KvScanBuilder.activeConf.value))

  private def saltBuckets = version.salt
  /** The CDC span crosses a salt declaration (r19): readers strip each
    * file under ITS entry's resolved layout; no key-space pushdown,
    * pruning, ordering claim, or DPP rides this scan (builder doc).
    */
  private def mixedSaltSpan = version.mixedSalt

  override def readSchema(): StructType = required

  /** The table path, exposed for [[KvIndexRouting]] — but ONLY when this
    * scan is a plain CURRENT read: a time-travel / snapshot / CDC / raw /
    * limit-capped scan answers a different question than the current view
    * a secondary-index lookup serves, so the router must never rewrite
    * it. Pushed filters are fine (Spark re-applies them as residuals).
    */
  private[sources] def routablePath: Option[String] =
    if (version.isCurrent &&
      tailId.isEmpty && limit.isEmpty && !ordered && !readTombstones &&
      !groupPruneOnly) Some(path)
    else None

  /** CERTIFIED KEY-RANGE partitioning for storage-partitioned joins
    * ([[KvRegionLayout]] doc): when the version's full live file set
    * certifies strictly-disjoint sorted stored ranges, the layout spec +
    * per-file region ordinals let two same-layout kv scans (snapshot
    * diff, table⋈clone, self-joins) co-locate WITHOUT exchanges. Refused
    * under plan shapes whose partitions stop being one-whole-region-each
    * (byte-range splits, limit/top-n file capping, row-level group scan)
    * and on CDC feeds (epoch segments overlap anyway); pruning is fine —
    * dropped regions just mean absent partition values, which Spark pads.
    */
  private lazy val spjLayout: Option[(String, Map[String, Int])] = {
    if (limit.isDefined || ordered || splitRegionBytes.isDefined ||
      groupPruneOnly || version.since.isDefined ||
      !required.fieldNames.contains("rowKey")) None
    else KvRegionLayout.fromStats(saltBuckets,
      allFilesWithStats.map { case (f, st) => (f.toString, st) })
      .map { case (l, idx) => (KvRegionLayout.encode(l), idx) }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    spjLayout match {
      case Some((spec, _)) =>
        // Single-argument transform over the key column — Spark's
        // supportsExpressions gate rejects extra children — so the spec
        // travels via the registry instead ([[KvRegionLayout]] doc).
        val fname = KvRegionLayout.register(spec)
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(Expressions.apply(fname, Expressions.column("rowKey"))),
          plannedFiles.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }
  }

  /** RUNTIME region pruning (the HBase multi-get → region-server routing
    * analog, and Spark's DPP shape for V2 sources): when this scan sits
    * under a join on rowKey whose other side is small and selective,
    * Spark re-plans the scan at execution time with the build side's key
    * set — [[filter]] intersects those keys against each region file's
    * manifest key bounds and drops whole files a compile-time predicate
    * could never prune (the keys aren't known until runtime). Planning
    * cost: arithmetic over already-loaded manifest stats; files without
    * stats are conservatively kept.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("rowKey"))

  @volatile private var runtimeKeys: Option[Seq[String]] = None

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLit, NamedReference}
    def keyRef(e: org.apache.spark.sql.connector.expressions.Expression) = e match {
      case nr: NamedReference => nr.fieldNames.toSeq == Seq("rowKey")
      case _ => false
    }
    def str(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case l: VLit[_] if l.dataType == StringType =>
          Option(l.value).map(_.toString)
        case _ => None
      }
    val sets = predicates.toSeq.flatMap { p =>
      p.name() match {
        case "IN" if p.children().nonEmpty && keyRef(p.children()(0)) =>
          val vs = p.children().drop(1).toSeq.map(str)
          if (vs.forall(_.isDefined)) Some(vs.flatten) else None
        case "=" if p.children().length == 2 =>
          (p.children()(0), p.children()(1)) match {
            case (k, v) if keyRef(k) => str(v).map(Seq(_))
            case (v, k) if keyRef(k) => str(v).map(Seq(_))
            case _ => None
          }
        case _ => None
      }
    }
    // Multiple translatable predicates conjoin: intersect their key sets.
    if (sets.nonEmpty) runtimeKeys = Some(
      sets.reduce((a, b) => a.intersect(b)))
  }

  /** PER-PARTITION ordering report: a sink-written region file is
    * (rowKey, qualifier)-sorted by the write contract, every reader mode
    * except the DESC tail ring-buffer preserves file order, and stats
    * presence in the manifest certifies sink authorship — so a scan whose
    * planned files all carry stats reports (rowKey[, qualifier]) ASC and
    * Catalyst drops redundant in-partition sorts. (Range DISTRIBUTION is
    * not expressible through DSv2 — see [[KvTableInfo]] for how the
    * engine exploits it structurally instead.)
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val names = required.fieldNames.toSet
    // Salted scans emit STRIPPED keys out of salt-interleaved file order —
    // never sorted by the logical key, so no ordering is reported.
    val certified = saltBuckets.isEmpty && !mixedSaltSpan &&
      !(ordered && descending) && names.contains("rowKey") &&
      keptFiles.nonEmpty && keptFiles.forall(_._2.isDefined)
    if (!certified) Array.empty
    else {
      val keys = Seq("rowKey") ++ (if (names.contains("qualifier")) Seq("qualifier") else Nil)
      keys.map(k => Expressions.sort(Expressions.column(k),
        SortDirection.ASCENDING)).toArray
    }
  }

  // Region pruning happens once, lazily, on the driver: region count is
  // bounded metadata (like HBase's region directory), not data. The file
  // set comes from the manifest log when the table carries one (immune to
  // stray files and listing-consistency gaps), directory listing otherwise
  // — and the MANIFEST-CARRIED stats serve the rowKey bounds, so a logged
  // table prunes with ZERO footer opens (each of which is an object-store
  // round-trip at 100 TB); only stat-less legacy files pay the footer.
  /** The version's FULL live (file, stat) set, pre-pruning — pruning
    * consumes it below, and the key-range layout certification
    * ([[spjLayout]]) must see the whole layout: two scans of one table
    * with different pushed filters still describe the SAME layout, or
    * their partition-value spaces could never be compared.
    */
  private lazy val allFilesWithStats
      : Seq[(Path, Option[KvLog.FileStat])] =
    version.files.map(f => (new Path(version.table, f.name), f.stat))

  private lazy val (keptFiles, totalFiles)
      : (Seq[(String, Option[KvLog.FileStat])], Int) = {
    val conf = sconf.value
    val all = allFilesWithStats
    val bounds = KvFilters.rowKeyIntervalSets(pushed)
    // Point predicates additionally probe each file's MANIFEST BLOOM
    // (KvBloom — the HBase ROW-bloom Get path): epoch segments all span
    // the keyspace, so ranges alone keep every one of them for a point
    // lookup; the bloom keeps ~1 (+fpp). Bloom-less files (compacted
    // regions, legacy entries) fall through to range-only pruning.
    val points = KvFilters.rowKeyPoints(pushed)
    // FILE-LEVEL family/qualifier pruning (the HBase per-CF store-file
    // analog): a pushed family/qualifier equality/IN constrains the scan
    // to a closed value set; files whose recorded distinct sets
    // ([[KvLog.FileStat.families]]) provably miss it are never planned.
    // Marker-carrying files are EXEMPT — a marker masks cells in OTHER
    // files, so read-time masking must always see it regardless of the
    // marker row's own family/qualifier spelling.
    val famReq = KvFilters.requiredValues(pushed, "family")
    val qualReq = KvFilters.requiredValues(pushed, "qualifier")
    def colSetsOk(stat: Option[KvLog.FileStat]): Boolean = stat match {
      case Some(st) if st.tombstones == 0 =>
        famReq.forall(req => st.families.forall(_.exists(req))) &&
          qualReq.forall(req => st.qualifiers.forall(_.exists(req)))
      case _ => true // stat-less or marker-carrying: cannot prune
    }
    val kept =
      if (bounds.isEmpty && points.isEmpty && famReq.isEmpty && qualReq.isEmpty)
        all
      else all.filter { case (f, stat) =>
        val rangeOk = bounds.isEmpty ||
          (stat.flatMap(s => s.minKey.zip(s.maxKey))
            .orElse(KvFilters.fileRowKeyRange(f, conf)) match {
            case Some((lo, hi)) => KvFilters.keepsFile(bounds, lo, hi)
            case None => true // no stats anywhere: cannot prune, must scan
          })
        rangeOk && (points match {
          case Some(keys) =>
            stat.flatMap(_.bloom).flatMap(KvBloom.decodeCached) match {
              case Some(b) => keys.exists(b.mightContain)
              case None => true // no (valid) bloom: cannot prune
            }
          case None => true
        }) && colSetsOk(stat)
      }
    (kept.map { case (f, st) => (f.toString, st) }, all.length)
  }

  /** The kept files that carry delete markers ([[KvDelete]]) — read-time
    * masking activates iff any survive pruning and the scan is not a raw
    * `readTombstones` view. Marker-free tables (the overwhelmingly common
    * case) take the zero-overhead path everywhere this is consulted.
    */
  private lazy val tombstoneFiles: Seq[String] =
    keptFiles.collect { case (f, Some(st)) if st.tombstones > 0 => f }

  /** Masking applies to TABLE-STATE views (current, asOf, snapshot). A
    * `sinceSeq` read is a CHANGE FEED, not a state view — it must ship
    * raw cells, markers included, like the streaming tail: a CDC
    * consumer mirroring the table needs the delete to arrive as a
    * change, and masking would instead silently suppress both the
    * markers and the span's masked puts (the replica would keep deleted
    * data forever — the GDPR-leak direction).
    */
  private def maskingActive: Boolean =
    !readTombstones && version.since.isEmpty && tombstoneFiles.nonEmpty

  /** Whether the mask needs each row's VALUE bytes: only when the live
    * marker set actually holds an exact-version marker
    * ([[KvDelete.VersionMarkerPrefix]] — value-aware matching). Tables
    * with ordinary row/column tombstones keep the four-column inner
    * coordinate and never pay reading the fat `value` column a
    * projection dropped. `liveMarkers` is already loaded driver-side for
    * the mask itself, so the probe is a free in-memory scan.
    */
  private lazy val maskNeedsValue: Boolean =
    maskingActive &&
      liveMarkers.exists(_._3.startsWith(KvDelete.VersionMarkerPrefix))

  /** The LIVE MARKERS, loaded once driver-side from the marker-carrying
    * segments (a pushed `qualifier < "\u0001"` record filter — row-group
    * stats skip marker-free groups): (logical rowKey, family, qualifier,
    * ts, STORED rowKey) — logical for mask probing (readers emit stripped
    * keys), stored for slicing against manifest bounds (which record
    * stored keys). Bounded by [[KvDelete.MaxLiveMarkers]] — past it the
    * read refuses loudly and the fix is a compaction (which purges
    * markers), not a bigger driver.
    */
  private lazy val liveMarkers
      : Array[(String, String, String, Long, Array[Byte], String)] = {
    val saltLen = if (saltBuckets.isDefined) KvSalt.Width else 0
    // MEMOIZED per (path, salt, marker-file set) — r18: the load is a
    // DRIVER-SIDE serial read of every marker-carrying segment, paid by
    // every masked scan; on a freshly-replicated table with ~10^5 drop
    // markers it dominated the whole query. Marker segments are
    // immutable once published (unique names, rewrite = new names), so
    // the same file set always yields the same markers and the memo can
    // never serve stale data — a commit that adds/removes marker files
    // changes the key. Bounded LRU (a few entries, each ≤
    // MaxLiveMarkers rows), so repeated masked reads between commits
    // pay the load once per JVM, not once per scan.
    // The FILESYSTEM URI joins the key (ADVICE r18): a scheme-less path
    // resolved against two different defaultFS configs is two tables.
    val fsUri = String.valueOf(
      new Path(path).getFileSystem(sconf.value).getUri)
    val key = (fsUri, path, saltLen, tombstoneFiles.sorted)
    KvMarkerCache.get(key, () => {
      val markers =
        Array.newBuilder[(String, String, String, Long, Array[Byte], String)]
      var total = 0L
      KvDelete.foreachMarkerRow(sconf.value, tombstoneFiles.map(new Path(_))) {
        (stored, fam, q, ts, v) =>
          total += 1
          if (total > KvDelete.MaxLiveMarkers) throw new IllegalStateException(
            s"graft-kv: $path carries more than ${KvDelete.MaxLiveMarkers} " +
              "live delete markers — the mask would no longer be " +
              "bounded metadata. Run a major compaction to purge masked " +
              "cells and their markers, then re-read.")
          markers += ((if (saltLen > 0) stored.substring(saltLen) else stored,
            fam, q, ts, v, stored))
      }
      markers.result()
    })
  }

  /** The one-broadcast FALLBACK mask over every live marker — used only
    * when [[maskSlices]] declines (overlapping layouts).
    */
  private lazy val maskBroadcast
      : org.apache.spark.broadcast.Broadcast[KvDelete.Mask] =
    org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast(KvDelete.buildMask(
        liveMarkers.iterator.map(t => (t._1, t._2, t._3, t._4, t._5))))

  /** REGION-SCOPED masks (r13): a reader only needs the markers whose
    * rowKey could coexist with ITS file's keys, and the manifest bounds
    * already say which — so each planned file gets a SLICE of the
    * (stored-key-sorted) marker set covering its [minKey, maxKey], and
    * the slice rides the file's own [[KvFilePartition]] instead of a
    * full-mask broadcast to every executor. On the layouts that matter
    * at scale (compacted/disjoint region files), the slices sum to about
    * the marker count, so the driver ships each marker ~once — a
    * 1000-region table with a 4M-marker mask ships ~4 KB-per-region
    * slices instead of a ~400 MB broadcast to every executor. When
    * overlapping epoch segments make every file span the keyspace,
    * slices would multiply the mask by the file count — the guard then
    * falls back to the single broadcast (None), the r12 behavior. Files
    * without bounds (stat-less) take the full set as their slice.
    */
  private lazy val maskSlices: Option[Map[String, KvDelete.Mask]] = {
    // MEMOIZED like liveMarkers (r22): cutting + building the slices is
    // driver-side work LINEAR IN THE MARKER COUNT (a sort of the stored
    // keys plus one Mask build over every slice), re-paid by every masked
    // scan of the same table state — on the freshly-replicated fixture
    // (5×10^5 drop markers) it was a measurable slice of every rep. The
    // key extends the marker-cache key with the planned file set: file
    // names uniquely determine their manifest stats (segments are
    // immutable), so equal keys always yield identical slices.
    val fsUriK = String.valueOf(
      new Path(path).getFileSystem(sconf.value).getUri)
    KvMaskSliceCache.get(
      (fsUriK, path, if (saltBuckets.isDefined) KvSalt.Width else 0,
        tombstoneFiles.sorted, plannedFiles.sorted),
      () => buildMaskSlices)
  }

  private def buildMaskSlices: Option[Map[String, KvDelete.Mask]] = {
    // sort + search under UTF-8 byte order — the manifest [minKey, maxKey]
    // these slices are cut against is byte-ordered (sink stat), and a
    // UTF-16 slice could MISS a marker whose file the bounds do cover.
    // Sort keys precompute to UTF8String ONCE per marker (compareTo is
    // the byte order): Utf8Order-per-compare would re-encode both sides
    // on every of the O(n log n) compares of a multi-million-marker set.
    type Keyed = (org.apache.spark.unsafe.types.UTF8String,
      (String, String, String, Long, Array[Byte], String))
    val keyed: Array[Keyed] = liveMarkers.map(t =>
      (org.apache.spark.unsafe.types.UTF8String.fromString(t._6), t))
    java.util.Arrays.sort(keyed, new java.util.Comparator[Keyed] {
      override def compare(x: Keyed, y: Keyed): Int = x._1.compareTo(y._1)
    })
    val sorted = keyed.map(_._2)
    val storedKeys = keyed.map(_._1)
    val m = storedKeys.length
    // first index with key >= lo / first index with key > hi
    def lowerBound(lo: String): Int = {
      val loU = org.apache.spark.unsafe.types.UTF8String.fromString(lo)
      var a = 0; var b = m
      while (a < b) {
        val mid = (a + b) >>> 1
        if (storedKeys(mid).compareTo(loU) < 0) a = mid + 1 else b = mid
      }
      a
    }
    def upperBound(hi: String): Int = {
      val hiU = org.apache.spark.unsafe.types.UTF8String.fromString(hi)
      var a = 0; var b = m
      while (a < b) {
        val mid = (a + b) >>> 1
        if (storedKeys(mid).compareTo(hiU) <= 0) a = mid + 1 else b = mid
      }
      a
    }
    val statsByFile = keptFiles.toMap
    val ranges = plannedFiles.map { f =>
      val st = statsByFile.get(f).flatten
      // A PURE-marker segment (every row a tombstone) holds no puts to
      // mask: its readers only need the qualifier drop, which the empty
      // mask provides — in the fresh-delete state this halves the slice
      // material (the marker segments would otherwise each carry their
      // own full span as a slice).
      if (st.exists(s => s.rows > 0 && s.tombstones == s.rows)) f -> ((0, 0))
      else st.flatMap(s => s.minKey.zip(s.maxKey)) match {
        case Some((lo, hi)) => f -> ((lowerBound(lo), upperBound(hi)))
        case None => f -> ((0, m))
      }
    }
    val total = ranges.iterator.map { case (_, (a, b)) => (b - a).toLong }.sum
    // tiny masks always slice (the duplication is bytes); big masks slice
    // only when the layout keeps the duplication STRICTLY under 2× the
    // marker count — at exactly 2× (two full-span stat-carrying files),
    // per-partition task serialization ships about twice the bytes of the
    // single broadcast it was meant to beat, so >= falls back
    if (m > (4 << 10) && total >= 2L * m) None
    else Some(ranges.map { case (f, (a, b)) =>
      f -> KvDelete.buildMask(
        sorted.view.slice(a, b).iterator
          .map(t => (t._1, t._2, t._3, t._4, t._5)))
    }.toMap)
  }

  /** With a pushed limit and NO filters, manifest/footer row counts are
    * exact: stop planning files once they cover the limit — a LIMIT 20
    * console dump of a 1000-region table schedules one task. Filters make
    * a file's matching-row count unknowable from metadata, so every kept
    * file stays planned and the cap moves into the readers.
    */
  private lazy val plannedFiles: Seq[String] = limit match {
    // ordered (top-n) scans must keep EVERY file: commits overlap like LSM
    // runs, so any file may hold globally-small keys — the cap lives in
    // the readers only. A MASKED scan also keeps every file: raw row
    // counts include markers and masked puts, so stopping at `limit` raw
    // rows could under-produce the survivors.
    case Some(n) if pushed.isEmpty && !ordered && !maskingActive &&
        logicalKeyScope.isEmpty =>
      val conf = sconf.value
      var acc = 0L
      val out = Seq.newBuilder[String]
      val it = keptFiles.iterator
      while (acc < n && it.hasNext) {
        val (f, stat) = it.next()
        out += f
        acc += stat.map(_.rows)
          .getOrElse(KvFilters.fileRowCount(new Path(f), conf))
      }
      out.result()
    case _ => keptFiles.map(_._1)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val statsByFile = keptFiles.toMap
    // Runtime (DPP) keys arrive in LOGICAL key space — the join side saw
    // the scan's stripped output — so a salted scan maps each to its one
    // stored form before probing bounds and blooms.
    val storedRuntimeKeys =
      if (mixedSaltSpan) None // stored form differs per epoch: keep all
      else runtimeKeys.map(ks =>
        saltBuckets.fold(ks)(n => ks.map(KvSalt.stored(_, n))))
    val files = storedRuntimeKeys match {
      case Some(keys) => plannedFiles.filter { f =>
        val st = statsByFile.get(f).flatten
        val rangeOk = st.flatMap(s => s.minKey.zip(s.maxKey)) match {
          case Some((lo, hi)) => keys.exists(k =>
            graft.kv.Utf8Order.compare(k, lo) >= 0 &&
              graft.kv.Utf8Order.compare(k, hi) <= 0)
          case None => true // no bounds: cannot prune, must scan
        }
        // Runtime (DPP) keys are exact values — the bloom prunes the
        // in-range epoch segments the bounds cannot.
        rangeOk && (st.flatMap(_.bloom).flatMap(KvBloom.decodeCached) match {
          case Some(b) => keys.exists(b.mightContain)
          case None => true
        })
      }
      case None => plannedFiles
    }
    // INTRA-REGION parallelism (`splitRegionBytes`): a monolith region the
    // layout hasn't normalized yet ([[KvCompactor.SplitOversized]] is the
    // durable fix) would otherwise scan as ONE task however large it is.
    // Oversized files plan as contiguous BYTE-RANGE partitions; the
    // parquet reader's midpoint rule assigns each row group to exactly one
    // range, so the union reads the file exactly once without a footer
    // open at planning time. Each range preserves file (sorted) order, but
    // a rowKey's cells may STRADDLE a range boundary — hence not offered
    // to per-partition whole-key algorithms (the certified pivot never
    // sets it) and skipped under limit/top-n plans (already O(n)/task).
    // Sliced masking: each partition carries ITS file's marker slice
    // (possibly empty — the masker still drops raw marker rows and
    // applies the emit projection); broadcast mode carries none.
    val sliceFor: String => Option[KvDelete.Mask] =
      if (!maskingActive) _ => None
      else maskSlices match {
        case Some(slices) =>
          f => Some(slices.getOrElse(f, KvDelete.buildMask(Iterator.empty)))
        case None => _ => None
      }
    // Region ordinals for the key-grouped partitioning report (original
    // layout positions — pruning keeps each survivor's ordinal stable, so
    // the partition VALUES two same-layout scans expose always agree).
    val regionIdxOf: String => Int = spjLayout match {
      case Some((_, idx)) => f => idx.getOrElse(f, -1)
      case None => _ => -1
    }
    // MIXED-salt span (r19): each file strips under the layout current AT
    // ITS OWN entry seq, which the version's span walk already recorded.
    val saltLenOf: String => Option[Int] =
      if (!mixedSaltSpan) _ => None
      else {
        val byName = version.files
          .map(f => f.name -> version.saltWidthAt(f.seq)).toMap
        f => Some(byName.getOrElse(new Path(f).getName, 0))
      }
    val pieces = splitRegionBytes.filter(_ => limit.isEmpty) match {
      case Some(target) =>
        lazy val fsys = new Path(path).getFileSystem(sconf.value)
        files.flatMap { f =>
          val bytes = statsByFile.get(f).flatten.map(_.bytes)
            .getOrElse(fsys.getFileStatus(new Path(f)).getLen)
          val n = math.max(1L, (bytes + target - 1) / target)
          if (n == 1) Seq(KvFilePartition(f, maskSlice = sliceFor(f),
            saltLenOverride = saltLenOf(f)))
          else (0L until n).map { i =>
            KvFilePartition(f, i * target,
              if (i == n - 1) Long.MaxValue else (i + 1) * target,
              maskSlice = sliceFor(f), saltLenOverride = saltLenOf(f))
          }
        }
      case None => files.map(f =>
        KvFilePartition(f, maskSlice = sliceFor(f), regionIdx = regionIdxOf(f),
          saltLenOverride = saltLenOf(f)))
    }
    pieces.toArray
  }

  /** PRUNING-AWARE stats from the kept region files (manifest stats, with
    * file length + footer row count as the stat-less fallback). Without
    * this, Spark assigns a V2 relation `defaultSizeInBytes` (effectively
    * infinite) and NO join against the table can ever auto-broadcast — at
    * scale every kv join would plan as a full sort-merge. Reporting the
    * post-pruning size means a rowKey-range scan of one region out of
    * 1000 is seen at one region's size and becomes broadcast-eligible; on
    * a logged table the whole estimate is served from the manifest replay
    * already paid for by planning.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val conf = sconf.value
    val fs = new Path(path).getFileSystem(conf)
    val (bytes, rows) = keptFiles.foldLeft((0L, 0L)) {
      case ((b, r), (f, Some(st))) => (b + st.bytes, r + st.rows)
      case ((b, r), (f, None)) =>
        val p = new Path(f)
        (b + fs.getFileStatus(p).getLen, r + KvFilters.fileRowCount(p, conf))
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // A MASKED scan needs the full cell coordinate (rowKey, family,
    // qualifier, ts) materialized to evaluate the mask even when the
    // query projected it away: the inner row carries required ++ the
    // missing mask columns, readers mask on it and emit the required
    // PREFIX (cheap array slice, only on tombstoned tables).
    val masked = maskingActive
    // `value` joins the inner coordinate only when the mask is
    // value-aware ([[maskNeedsValue]] — exact-version markers live).
    // A logically-scoped read (mixed-salt span, [[KvRowScope]]) likewise
    // needs the stripped rowKey materialized even when projected away.
    val scoped = logicalKeyScope.isDefined
    val innerNames =
      if (masked)
        (required.fieldNames ++
          Seq("rowKey", "family", "qualifier", "ts") ++
          (if (maskNeedsValue) Seq("value") else Nil))
          .distinct.toSeq
      else if (scoped) (required.fieldNames ++ Seq("rowKey")).distinct.toSeq
      else required.fieldNames.toSeq
    // The reader must also materialize filter-only columns (parquet
    // record-level filters evaluate over the requested schema).
    val filterCols = pushed.toSeq.flatMap(_.references).distinct
    val projNames = (innerNames ++ filterCols).distinct
    // The per-reader limit cap counts rows POST-parquet-filter, so it is
    // sound only when every pushed filter translates EXACTLY to its
    // parquet predicate: an inexact translation (StartsWith's >=-prefix
    // relaxation) would let non-matching rows spend the cap and the union
    // could under-produce the global Limit. Inexact ⇒ the cap stays off
    // and Spark's retained Limit/TopN does all the cutting. (Masked rows
    // never spend the cap either: readers count EMITTED survivors.)
    val readerLimit =
      if (groupPruneOnly) None
      // a logical scope drops rows AFTER the parquet filter, so a
      // post-filter cap could spend its budget on rows the scope then
      // cuts and under-produce the global Limit — cap off when scoped
      else if (KvFilters.allExact(pushed) && !scoped) limit else None
    KvReaderFactory(projNames, innerNames,
      if (groupPruneOnly) None else KvFilters.toParquet(pushed),
      KvScanBuilder.broadcastConf(sconf), readerLimit,
      desc = descending,
      // tail row-group planning needs RAW row counts to be the bound —
      // only sound with no record filter at all, and never under masking
      // or a logical scope (raw counts include rows those would cut, so
      // the tail range could hold fewer than n survivors)
      tailPlan = descending && pushed.isEmpty && !masked && !scoped,
      saltLen = if (saltBuckets.isDefined) KvSalt.Width else 0,
      mask = if (masked && maskSlices.isEmpty) Some(maskBroadcast) else None,
      emitCols = if (masked || scoped) required.fieldNames.length else -1,
      sliced = masked && maskSlices.isDefined,
      scope = logicalKeyScope)
  }

  override def toBatch: Batch = this

  /** Pruning OBSERVABILITY (DSv2 custom metrics): how many region files
    * the manifest held vs how many this scan actually planned — the
    * number a 100-TB operator reads to see whether their predicate shape
    * prunes (`regions=12/4096` as a queryable metric, not just a plan
    * string). Driver-side values, reported once per scan execution.
    */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new KvCandidateRegionsMetric, new KvPlannedRegionsMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(KvScanTaskMetric("candidateRegions", totalFiles.toLong),
      KvScanTaskMetric("plannedRegions", plannedFiles.size.toLong))

  /** The same scan as a micro-batch tail ([[KvTailStream]]): pushdown and
    * pruning carry over; only the partition-planning axis changes (WAL
    * segments per offset range instead of the whole table).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // A CDC span's plan-time pin is not a user-named version: only
    // asOfSeq/asOfTime/snapshot refuse.
    require(version.asOf.isEmpty && version.snapshot.isEmpty,
      "graft-kv: asOfSeq/asOfTime/snapshot are batch-read options — a " +
        "stream's offset already names its log position; tail from a fresh " +
        "checkpoint instead")
    // Mixed-salt CDC is BATCH-ONLY: the batch readers resolve each file's
    // layout via per-partition saltLenOverride, but the tail strips ONE
    // salt width for its whole lifetime, and the mid-flight salt guard
    // only fires on declarations NEWER than construction — a bridged span
    // already containing the declaration would silently emit stored
    // (salt-prefixed) rowKeys for every file in it. Refuse loudly; the
    // recovery is to split the bridge at the declaration.
    require(!mixedSaltSpan,
      s"graft-kv: a streaming sinceSeq bridge over $path crosses a salt " +
        "layout declaration — the tail interprets one layout for its " +
        "whole lifetime and cannot strip per-epoch stored keys. Split " +
        "the bridge at the declaration: consume the span up to the " +
        "declaring seq as a batch CDC read (sinceSeq + asOfSeq), then " +
        "start the stream with sinceSeq at the declaring seq.")
    // `sinceSeq` on a STREAM is the CDC recovery bridge: a fresh
    // checkpoint's tail starts right after that log seq instead of at the
    // compaction horizon — the pipeline that lost its Spark checkpoint
    // but knows its last consumed commit resumes exactly, no replays and
    // no gaps (KvTailStream.initialOffset doc).
    new KvTailStream(path, required, pushed, maxFilesPerBatch, sconf, tailId,
      maxBytesPerBatch,
      saltLen = if (saltBuckets.isDefined) KvSalt.Width else 0,
      sinceSeq = version.since)
  }

  override def description(): String = {
    val pruned = s"regions=${plannedFiles.size}/$totalFiles"
    val lim = limit.fold("")(n =>
      if (ordered) {
        val keys = Seq("rowKey", "qualifier").take(orderedCols).mkString(",")
        s" topN=$n($keys ${if (descending) "DESC" else "ASC"})"
      } else s" limit=$n")
    val salt = saltBuckets.fold("")(n => s" salted=$n")
    val split = splitRegionBytes.filter(_ => limit.isEmpty)
      .fold("")(b => s" splitBytes=$b")
    val tomb =
      if (maskingActive) {
        val mode = if (maskSlices.isDefined) "sliced" else "broadcast"
        val va = if (maskNeedsValue) " valueAware" else ""
        s" masked(tombstoneFiles=${tombstoneFiles.size} mode=$mode$va)"
      } else if (readTombstones) " raw(tombstones)"
      else ""
    val lscope = logicalKeyScope.fold("") { case (lo, hi) =>
      s" logicalScope=[${lo.getOrElse("")},${hi.getOrElse("")})" }
    s"GraftKvScan path=$path pushed=[${pushed.mkString(", ")}] $pruned$lim$salt$split$tomb$lscope"
  }
}

/** Sum-aggregated scan metrics (driver-reported, so the "sum" is one
  * value). One concrete zero-arg class per metric: Spark's status
  * listener re-instantiates CustomMetric classes REFLECTIVELY by name, so
  * a parameterized class breaks metric aggregation at runtime.
  */
private[sources] class KvCandidateRegionsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "candidateRegions"
  override def description(): String = "region files in the manifest"
}

private[sources] class KvPlannedRegionsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "plannedRegions"
  override def description(): String = "region files planned after pruning"
}

private[sources] case class KvScanTaskMetric(metricName: String, v: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

/** One region file — or, under `splitRegionBytes`, one byte range of one:
  * `[rangeStart, rangeEnd)` selects the row groups whose midpoints fall
  * inside (the parquet file-range contract). The defaults cover the whole
  * file.
  */
private[sources] case class KvFilePartition(file: String,
    rangeStart: Long = 0L, rangeEnd: Long = Long.MaxValue,
    /** This file's region-scoped marker slice under sliced masking
      * ([[KvScan]] maskSlices doc) — rides the task's own partition
      * serialization, so a reader receives only the markers that can
      * coexist with its file's key range. None in broadcast-mask mode
      * and on unmasked scans.
      */
    maskSlice: Option[KvDelete.Mask] = None,
    /** Region ordinal under the scan's certified key-range layout
      * ([[KvScan]] spjLayout) — the partition key Spark's
      * storage-partitioned join zips on. -1 when the scan reported no
      * key-grouped partitioning; Spark only consults [[partitionKey]]
      * when one was reported, so the sentinel is never observed.
      */
    regionIdx: Int = -1,
    /** Mixed-salt CDC spans (r19): THIS file's salt-prefix width under
      * its own entry's resolved layout, overriding the scan-level
      * saltLen. None everywhere else.
      */
    saltLenOverride: Option[Int] = None)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  def wholeFile: Boolean = rangeStart == 0L && rangeEnd == Long.MaxValue
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](regionIdx))
}

private[sources] case class KvReaderFactory(
    projNames: Seq[String], outNames: Seq[String],
    predicate: Option[FilterPredicate],
    conf: Broadcast[SerializableConfiguration],
    limit: Option[Int] = None,
    desc: Boolean = false,
    tailPlan: Boolean = false,
    saltLen: Int = 0,
    mask: Option[org.apache.spark.broadcast.Broadcast[KvDelete.Mask]] = None,
    emitCols: Int = -1,
    sliced: Boolean = false,
    scope: Option[(Option[String], Option[String])] = None)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KvFilePartition]
    val effSaltLen = p.saltLenOverride.getOrElse(saltLen)
    val masker =
      if (sliced) p.maskSlice.map(new KvRowMasker(_, outNames, emitCols))
      else mask.map(b => new KvRowMasker(b.value, outNames, emitCols))
    val scoper = scope.map { case (lo, hi) =>
      new KvRowScope(lo, hi, outNames, emitCols) }
    if (desc && limit.exists(_ > 0))
      new KvTailPartitionReader(p.file,
        projNames, outNames, predicate, conf.value.value, limit.get, tailPlan,
        effSaltLen, masker, scoper)
    else new KvPartitionReader(p.file,
      projNames, outNames, predicate, conf.value.value, limit, effSaltLen,
      range = if (p.wholeFile) None else Some((p.rangeStart, p.rangeEnd)),
      masker = masker, scoper = scoper)
  }
}

/** Source-enforced rowKey scope evaluated on the EMITTED (salt-stripped,
  * LOGICAL) key — the mixed-salt-span path ([[KvScanBuilder]] doc): the
  * bound has no single stored form across the span's layouts, so it
  * cannot ride the record filter; each file strips under its own epoch
  * first and this check runs on the result. Inclusive min, exclusive max
  * (the minRowKey/maxRowKey option contract); comparison is UTF8String
  * byte order — identical to the stored-form path's Utf8Order.
  */
private[sources] final class KvRowScope(min: Option[String],
    max: Option[String], innerNames: Seq[String], emitCols: Int) {
  private val rkIdx = innerNames.indexOf("rowKey")
  require(rkIdx >= 0, "graft-kv: scoped reads materialize rowKey")
  private val lo = min.map(org.apache.spark.unsafe.types.UTF8String.fromString)
  private val hi = max.map(org.apache.spark.unsafe.types.UTF8String.fromString)

  /** Whether the inner row's logical key is inside the scope. */
  def survives(row: InternalRow): Boolean = {
    val rk = row.getUTF8String(rkIdx)
    if (rk == null) return true
    lo.forall(rk.compareTo(_) >= 0) && hi.forall(rk.compareTo(_) < 0)
  }

  /** Project a surviving inner row to the emitted prefix (same contract
    * as [[KvRowMasker.emit]] — used when no masker already projects).
    */
  def emit(row: InternalRow): InternalRow =
    if (emitCols < 0 || emitCols >= innerNames.length) row
    else new GenericInternalRow(
      row.asInstanceOf[GenericInternalRow].values.take(emitCols))
}

/** Task-side delete-marker masking ([[KvDelete]]): decides per inner row
  * whether it survives (marker cells and masked puts do not) and projects
  * the survivor down to the emitted prefix. One hash probe per row on the
  * (rare) masked path; scans of marker-free tables never construct one.
  */
private[sources] final class KvRowMasker(mask: KvDelete.Mask,
    innerNames: Seq[String], emitCols: Int) {

  private val rkIdx = innerNames.indexOf("rowKey")
  private val famIdx = innerNames.indexOf("family")
  private val qualIdx = innerNames.indexOf("qualifier")
  private val tsIdx = innerNames.indexOf("ts")
  private val valIdx = innerNames.indexOf("value")
  // `value` rides the inner row only when exact-version markers exist
  // (the scan gates it on the live marker set): a mask carrying version
  // cells must find it, a tombstone-only mask never dereferences it.
  require(rkIdx >= 0 && famIdx >= 0 && qualIdx >= 0 && tsIdx >= 0 &&
      (valIdx >= 0 || mask.versionsByRow.isEmpty),
    "graft-kv: masked reads materialize the full cell coordinate")

  /** Whether the inner row survives masking. */
  def survives(row: InternalRow): Boolean = {
    val q = row.getUTF8String(qualIdx)
    // marker cells themselves never surface on a masked scan
    if (q != null && q.numBytes() > 0 && q.getByte(0) == 0) return false
    if (mask.isEmpty) return true
    val rk = row.getUTF8String(rkIdx)
    if (rk == null) return true
    val ts = if (row.isNullAt(tsIdx)) Long.MinValue else row.getLong(tsIdx)
    if (mask.masked(rk, row.getUTF8String(famIdx), q, ts)) return false
    // exact-version masks (replicated retention drops): probed by
    // rowKey FIRST, then a primitive binary search on ts inside the key's
    // [[KvDelete.VersionEntries]] — value bytes are wrapped only when
    // coordinate + ts already match, so the common row pays one map probe
    // and zero allocation (r22: the per-row case-class + 4-field-hash
    // probe dominated freshly-replicated reads where every key is masked)
    val vs = mask.versionsFor(rk)
    vs == null || !vs.containsCell(
      row.getUTF8String(famIdx), q, ts,
      row.isNullAt(valIdx),
      if (row.isNullAt(valIdx)) null else row.getBinary(valIdx))
  }

  /** Project a surviving inner row to the emitted prefix. */
  def emit(row: InternalRow): InternalRow =
    if (emitCols < 0 || emitCols >= innerNames.length) row
    else new GenericInternalRow(
      row.asInstanceOf[GenericInternalRow].values.take(emitCols))
}

/** Reads one region file through a CUSTOM parquet `ReadSupport` that
  * materializes `InternalRow` directly — no intermediate record objects,
  * one converter per projected column writing straight into the row buffer.
  * Spark's vectorized reader is still faster on wide numeric scans, but the
  * point here is OWNERSHIP of the pushdown surface; cells are 5 narrow
  * columns. The scan is a real share of an export (its map stage runs
  * before any sink), so the reader's fixed per-file cost matters: it is
  * built through [[KvReaderBuilder]], never from a bare path.
  */
private[sources] class KvPartitionReader(
    file: String, projNames: Seq[String], outNames: Seq[String],
    predicate: Option[FilterPredicate], conf: Configuration,
    limit: Option[Int] = None,
    saltLen: Int = 0,
    range: Option[(Long, Long)] = None,
    masker: Option[KvRowMasker] = None,
    scoper: Option[KvRowScope] = None)
    extends PartitionReader[InternalRow] {

  private val reader: PqReader[InternalRow] = {
    val b0: PqReader.Builder[InternalRow] = new KvReaderBuilder(
      HadoopInputFile.fromPath(new Path(file), conf),
      new KvReadSupport(projNames, outNames, saltLen))
    val b = range.fold(b0) { case (s, e) => b0.withFileRange(s, e) }
    predicate.fold(b)(p => b.withFilter(FilterCompat.get(p))).build()
  }

  private var current: InternalRow = _
  // Pushed-limit cap, counted POST-filter (the record filter is exact, so
  // emitting `limit` matching rows per partition can never starve the
  // global Limit above the scan). Under masking the cap counts EMITTED
  // survivors only — masked rows never spend it.
  private var remaining: Long = limit.fold(Long.MaxValue)(_.toLong)

  // One projector, resolved ONCE (never both: masking requires a plain
  // current read, a scope exists only on a mixed CDC span) — both emit
  // the same required prefix; the hot loop stays allocation-free.
  private val project: InternalRow => InternalRow =
    masker.map(m => (r: InternalRow) => m.emit(r))
      .orElse(scoper.map(s => (r: InternalRow) => s.emit(r)))
      .getOrElse(identity)

  override def next(): Boolean = {
    if (remaining <= 0) return false
    if (masker.isEmpty && scoper.isEmpty) {
      current = reader.read()
      if (current != null) remaining -= 1
      current != null
    } else {
      var row = reader.read()
      while (row != null && !(scoper.forall(_.survives(row)) &&
          masker.forall(_.survives(row)))) row = reader.read()
      if (row == null) { current = null; false }
      else { current = project(row); remaining -= 1; true }
    }
  }

  override def get(): InternalRow = current

  override def close(): Unit = reader.close()
}

/** DESC top-n reader: one region file's contribution to a global
  * `ORDER BY rowKey DESC LIMIT n` is within its LAST `n` (matching) rows —
  * the file is (rowKey, qualifier)-sorted, so the largest keys live at its
  * tail. A parquet stream only reads forward, so the reader keeps a RING
  * BUFFER of the last `n` rows it has seen and emits the buffer at end of
  * input: O(n) rows emitted per task, whatever the file size.
  *
  * With no record filter (`tailPlan`), it additionally plans a BYTE RANGE
  * covering just the tail row groups whose raw row counts reach `n` (footer
  * counts are exact), so the task also READS O(n) rows — the mirror of the
  * ASC reader's early stop. With an (exact) filter, raw counts bound
  * nothing — matching rows may live anywhere — so the whole file streams
  * through the filter while only the last `n` survivors are buffered.
  */
private[graft] class KvTailPartitionReader(
    file: String, projNames: Seq[String], outNames: Seq[String],
    predicate: Option[FilterPredicate], conf: Configuration,
    n: Int, tailPlan: Boolean, saltLen: Int = 0,
    masker: Option[KvRowMasker] = None,
    scoper: Option[KvRowScope] = None)
    extends PartitionReader[InternalRow] {

  private val reader: PqReader[InternalRow] = {
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    var b: PqReader.Builder[InternalRow] =
      new KvReaderBuilder(in, new KvReadSupport(projNames, outNames, saltLen))
    if (tailPlan) {
      // Footer pass to find the tail row groups covering >= n rows; the
      // range's midpoint rule selects exactly the groups at/after `start`.
      val fr = KvFilters.openFooter(in, conf)
      val start = try {
        val blocks = fr.getRowGroups.asScala
        var need = n.toLong
        var idx = blocks.length
        while (idx > 0 && need > 0) { idx -= 1; need -= blocks(idx).getRowCount }
        if (blocks.isEmpty) 0L else blocks(idx).getStartingPos
      } finally fr.close()
      b = b.withFileRange(start, Long.MaxValue)
    }
    predicate.fold(b)(pr => b.withFilter(FilterCompat.get(pr))).build()
  }

  // One projector, resolved once (KvPartitionReader doc).
  private val project: InternalRow => InternalRow =
    masker.map(m => (r: InternalRow) => m.emit(r))
      .orElse(scoper.map(s => (r: InternalRow) => s.emit(r)))
      .getOrElse(identity)

  // Ring buffer of the last n rows read (KvMaterializer allocates a fresh
  // row per record, so buffering references is safe).
  private val ring = new Array[InternalRow](n)
  private var seen = 0L
  private var emitted = 0
  private var filled = false
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!filled) {
      var row = reader.read()
      while (row != null) {
        // Masking/scoping run BEFORE the ring (a dropped row must not
        // evict a surviving one); the ring stores the emitted projection.
        if (scoper.forall(_.survives(row)) && masker.forall(_.survives(row))) {
          ring((seen % n).toInt) = project(row)
          seen += 1
        }
        row = reader.read()
      }
      filled = true
    }
    val kept = math.min(seen, n.toLong).toInt
    if (emitted >= kept) return false
    // emission order within the task is irrelevant — Spark's retained
    // TopN re-sorts the ≤ n×files survivors
    current = ring(emitted)
    emitted += 1
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = reader.close()
}

/** A parquet reader builder over one file whose only Hadoop
  * `Configuration` is the task's (broadcast) `conf`.
  * `ParquetReader.builder(readSupport, path)` builds a fresh
  * `Configuration` and reads from it, which parses the Hadoop default XML
  * resources again for every file a task opens; the `InputFile`
  * constructor takes the conf of the `HadoopInputFile` instead.
  */
private[sources] final class KvReaderBuilder(
    file: HadoopInputFile, readSupport: KvReadSupport)
    extends PqReader.Builder[InternalRow](file) {
  override protected def getReadSupport: ReadSupport[InternalRow] = readSupport
}

/** Projection + direct-to-InternalRow assembly. The requested schema is
  * built from the FILE's own schema (repetition/logical types match exactly
  * — Spark writes non-nullable fields as `required`), restricted to
  * `projNames`; `outNames` selects and orders the emitted fields (filter-only
  * columns are assembled but not emitted).
  */
private[sources] class KvReadSupport(projNames: Seq[String], outNames: Seq[String],
    saltLen: Int = 0)
    extends ReadSupport[InternalRow] {

  override def init(context: InitContext): ReadSupport.ReadContext = {
    val fileSchema = context.getFileSchema
    val fields: Seq[org.apache.parquet.schema.Type] =
      projNames.filter(fileSchema.containsField)
        .map(n => fileSchema.getType(Seq(n): _*))
    new ReadSupport.ReadContext(new MessageType(fileSchema.getName, fields.asJava))
  }

  override def prepareForRead(conf: Configuration,
      metadata: util.Map[String, String], fileSchema: MessageType,
      readContext: ReadSupport.ReadContext): RecordMaterializer[InternalRow] =
    new KvMaterializer(readContext.getRequestedSchema, outNames, saltLen)
}

private[sources] class KvMaterializer(schema: MessageType, outNames: Seq[String],
    saltLen: Int = 0)
    extends RecordMaterializer[InternalRow] {

  private val n = schema.getFieldCount
  private val buf = new Array[Any](n)
  private val outIdx: Array[Int] = outNames.map { name =>
    (0 until n).find(i => schema.getFieldName(i) == name).getOrElse(-1)
  }.toArray
  // Salted scans emit the LOGICAL key: the stored salt prefix is stripped
  // here, after the record filter ran on stored values. Prefix chars are
  // ASCII, so the code-point substring is the byte strip.
  private val rowKeyOut: Int =
    if (saltLen > 0) outNames.indexOf("rowKey") else -1

  private val root: GroupConverter = new GroupConverter {
    private val converters: Array[Converter] = Array.tabulate(n) { i =>
      val tpe = graft.kv.Cell.schema.fields
        .find(_.name == schema.getFieldName(i)).map(_.dataType)
        .getOrElse(throw new IllegalStateException(
          s"graft-kv: unknown column ${schema.getFieldName(i)}"))
      tpe match {
        case StringType => new PrimitiveConverter {
          override def addBinary(v: Binary): Unit =
            buf(i) = UTF8String.fromBytes(v.getBytes)
        }
        case BinaryType => new PrimitiveConverter {
          override def addBinary(v: Binary): Unit = buf(i) = v.getBytes
        }
        case LongType => new PrimitiveConverter {
          override def addLong(v: Long): Unit = buf(i) = v
        }
        case t => throw new IllegalStateException(s"graft-kv: unexpected type $t")
      }
    }
    override def getConverter(i: Int): Converter = converters(i)
    override def start(): Unit = {
      var i = 0
      while (i < n) { buf(i) = null; i += 1 }
    }
    override def end(): Unit = ()
  }

  override def getRootConverter: GroupConverter = root

  override def getCurrentRecord: InternalRow = {
    val out = new Array[Any](outIdx.length)
    var i = 0
    while (i < out.length) {
      val gi = outIdx(i)
      out(i) = if (gi < 0) null else buf(gi)
      if (i == rowKeyOut && out(i) != null)
        out(i) = out(i).asInstanceOf[UTF8String].substring(saltLen, Int.MaxValue)
      i += 1
    }
    new GenericInternalRow(out)
  }
}

/** Driver-side memo: a small LRU whose values ride SoftReferences, so
  * under real memory pressure the GC can reclaim an entry the LRU hasn't —
  * a re-load is a slower scan, an OOM is an outage. At most `maxEntries`
  * entries, and the live values' total `weight` stays within `budget`;
  * a freshly loaded value is always kept, so it must fit the budget alone.
  */
private[sources] class SoftLru[K, V](maxEntries: Int,
    budget: Long = Long.MaxValue, weight: V => Long = (_: V) => 0L) {
  private val cache =
    new java.util.LinkedHashMap[K, java.lang.ref.SoftReference[V]](16, 0.75f, true)

  def get(key: K, load: () => V): V = {
    cache.synchronized {
      val ref = cache.get(key)
      if (ref != null) {
        val hit = ref.get()
        if (hit != null) return hit
        cache.remove(key): Unit // GC-cleared: drop the shell
      }
    }
    // load OUTSIDE the lock (driver IO or CPU); a racing duplicate load is
    // harmless — last writer wins, both values are identical
    val v = load()
    cache.synchronized {
      cache.put(key, new java.lang.ref.SoftReference(v)): Unit
      // Evict from the LRU-eldest end until both limits hold; GC-cleared
      // shells drop on the way. The iterator reaches the just-inserted
      // (newest) entry last, and it fits alone, so the loop always
      // terminates keeping it.
      def live(r: java.lang.ref.SoftReference[V]) = Option(r.get()).fold(0L)(weight)
      var total = cache.values.asScala.foldLeft(0L)(_ + live(_))
      val it = cache.entrySet().iterator()
      while ((total > budget || cache.size > maxEntries) && it.hasNext) {
        val e = it.next()
        if (!(e.getKey == key)) { total -= live(e.getValue); it.remove() }
      }
    }
    v
  }
}

/** Driver-side memo for [[KvScan.liveMarkers]] — keyed by
  * (path, salt width, sorted marker-file set), which uniquely determines
  * the marker contents (segments are immutable once published). Masked
  * reads between commits reuse instead of re-reading every marker segment
  * serially on the driver.
  *
  * Budget is TOTAL cached marker tuples, not entry count (ADVICE r18: an
  * entry-count cap let four heavily-tombstoned tables pin
  * ~4 × MaxLiveMarkers of driver heap permanently). Each single load is
  * ≤ [[KvDelete.MaxLiveMarkers]] (the read refuses past it), so it fits
  * the budget alone. The 64-entry cap besides: every commit changes the
  * marker-file-set key, so without it a long-lived driver scanning many
  * small-marker tables would grow the map (keys carry the sorted file
  * list) without ever tripping the tuple budget.
  */
private[sources] object KvMarkerCache extends SoftLru[
    (String, String, Int, Seq[String]),
    Array[(String, String, String, Long, Array[Byte], String)]](
  maxEntries = 64, budget = KvDelete.MaxLiveMarkers, weight = _.length.toLong)

/** Driver-side memo for [[KvScan.maskSlices]] — the BUILT per-file mask
  * slices, keyed by the marker-cache key plus the planned file set (file
  * names uniquely determine their immutable manifest stats, so equal keys
  * always reproduce identical slices). A tiny LRU: each entry's masks hold
  * at most the table's live markers (≤ [[KvDelete.MaxLiveMarkers]]).
  */
private[sources] object KvMaskSliceCache extends SoftLru[
    (String, String, Int, Seq[String], Seq[String]),
    Option[Map[String, KvDelete.Mask]]](maxEntries = 8)

/** Filter triage + translation shared by the scan builder, the region
  * pruner, and the reader factory.
  */
private[sources] object KvFilters {

  private val stringCols = Set("rowKey", "family", "qualifier")

  /** Largest pushed `In` translated to a parquet record-level
    * set-membership predicate; bigger sets relax to their [min, max]
    * range (toParquet doc — per-record probes of huge sets cost more
    * than the rows they cut).
    */
  private[sources] val InRecordFilterMax = 256

  def supported(f: Filter): Boolean = f match {
    case EqualTo(c, _: String) if stringCols(c) => true
    case In(c, vs) if stringCols(c) && vs.forall(_.isInstanceOf[String]) => true
    case GreaterThan(c, _: String) if stringCols(c) => true
    case GreaterThanOrEqual(c, _: String) if stringCols(c) => true
    case LessThan(c, _: String) if stringCols(c) => true
    case LessThanOrEqual(c, _: String) if stringCols(c) => true
    case StringStartsWith("rowKey", _) => true
    case EqualTo("ts", _: java.lang.Long) => true
    case GreaterThan("ts", _: java.lang.Long) => true
    case GreaterThanOrEqual("ts", _: java.lang.Long) => true
    case LessThan("ts", _: java.lang.Long) => true
    case LessThanOrEqual("ts", _: java.lang.Long) => true
    case And(l, r) => supported(l) && supported(r)
    // HBase MultiRowRangeFilter analog: a disjunction of supported
    // predicates (typically rowKey ranges — e.g. a salted table's per-salt
    // ranges) is pushed as a whole, prunes regions per disjunct, and
    // translates to a parquet `or`.
    case Or(l, r) => supported(l) && supported(r)
    case _ => false
  }

  /** Translate to a parquet record/row-group predicate. StartsWith becomes
    * its >= prefix relaxation — a SUPERSET is always sound because Spark
    * re-applies the exact residual.
    */
  def toParquet(filters: Array[Filter]): Option[FilterPredicate] = {
    def bin(c: String) = FilterApi.binaryColumn(c)
    def one(f: Filter): Option[FilterPredicate] = f match {
      case EqualTo(c, v: String) if stringCols(c) =>
        Some(FilterApi.eq(bin(c), Binary.fromString(v)))
      case In(c, vs) if stringCols(c) =>
        // Small sets: the native set-membership predicate, NOT an eq-OR
        // chain — the chain is O(n) compares PER RECORD and O(n) tree
        // depth (stack overflow at task serialization ~2,000 terms).
        // Big sets: the [min, max] RANGE relaxation — per-record hash
        // probes of a multi-thousand-key set cost more than the rows
        // they cut (a 2,500-key verification multi-get priced 3× the
        // full family scan it was meant to beat), while the range keeps
        // row-group pruning at two compares per record; the relaxation
        // is a SUPERSET and Spark re-applies the exact In (as InSet)
        // above the scan. Driver-side file pruning (region bounds +
        // blooms) works from the pushed VALUES either way, so clustered
        // key sets still plan only their files. [[allExact]] mirrors
        // the threshold: a relaxed record filter must not feed the
        // per-reader limit cap.
        val strs = vs.toSeq.collect { case s: String => s }
        if (strs.isEmpty) None
        else if (strs.length <= InRecordFilterMax) {
          val set = new java.util.HashSet[Binary]()
          strs.foreach(s => set.add(Binary.fromString(s)): Unit)
          Some(FilterApi.in(bin(c), set))
        } else Some(FilterApi.and(
          // min/max under UTF-8 BYTE order (graft.kv.Utf8Order), not JVM
          // String order — parquet compares Binary bytes unsigned, and a
          // UTF-16 min/max can exclude set members (ADVICE r18).
          FilterApi.gtEq(bin(c), Binary.fromString(strs.min(graft.kv.Utf8Order))),
          FilterApi.ltEq(bin(c), Binary.fromString(strs.max(graft.kv.Utf8Order)))))
      case GreaterThan(c, v: String) if stringCols(c) =>
        Some(FilterApi.gt(bin(c), Binary.fromString(v)))
      case GreaterThanOrEqual(c, v: String) if stringCols(c) =>
        Some(FilterApi.gtEq(bin(c), Binary.fromString(v)))
      case LessThan(c, v: String) if stringCols(c) =>
        Some(FilterApi.lt(bin(c), Binary.fromString(v)))
      case LessThanOrEqual(c, v: String) if stringCols(c) =>
        Some(FilterApi.ltEq(bin(c), Binary.fromString(v)))
      case StringStartsWith("rowKey", p) =>
        Some(FilterApi.gtEq(bin("rowKey"), Binary.fromString(p)))
      case EqualTo("ts", v: java.lang.Long) =>
        Some(FilterApi.eq(FilterApi.longColumn("ts"), v))
      case GreaterThan("ts", v: java.lang.Long) =>
        Some(FilterApi.gt(FilterApi.longColumn("ts"), v))
      case GreaterThanOrEqual("ts", v: java.lang.Long) =>
        Some(FilterApi.gtEq(FilterApi.longColumn("ts"), v))
      case LessThan("ts", v: java.lang.Long) =>
        Some(FilterApi.lt(FilterApi.longColumn("ts"), v))
      case LessThanOrEqual("ts", v: java.lang.Long) =>
        Some(FilterApi.ltEq(FilterApi.longColumn("ts"), v))
      case And(l, r) =>
        (one(l), one(r)) match {
          case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
          case (a, b) => a.orElse(b)
        }
      // Or needs BOTH sides translated (each possibly a sound superset —
      // or-of-supersets is a superset); dropping one side would narrow.
      case Or(l, r) => for { a <- one(l); b <- one(r) } yield FilterApi.or(a, b)
      case _ => None
    }
    filters.flatMap(one(_)).reduceOption(FilterApi.and)
  }

  /** Whether every filter translates EXACTLY to its parquet predicate —
    * the precondition for counting parquet-filtered rows against a pushed
    * limit (see [[KvScan.createReaderFactory]]). Only StartsWith is
    * inexact today (>=-prefix superset relaxation in [[toParquet]]); the
    * check recurses so a StartsWith buried under And/Or also disqualifies.
    */
  def allExact(filters: Array[Filter]): Boolean = {
    def exact(f: Filter): Boolean = f match {
      case _: StringStartsWith => false
      case In(_, vs) if vs.length > InRecordFilterMax => false // range-relaxed
      case And(l, r) => exact(l) && exact(r)
      case Or(l, r) => exact(l) && exact(r)
      case _ => true
    }
    filters.forall(exact)
  }

  /** The CLOSED value set column `c` may take under the pushed filter
    * conjunction, None = unconstrained. Only equality shapes constrain
    * (EqualTo / In; And intersects, Or unions when both sides close) —
    * ranges and negations stay None, so file-set pruning keeps its
    * superset soundness: a file is dropped only when its recorded
    * distinct set provably misses every admissible value.
    */
  def requiredValues(pushed: Array[Filter], c: String): Option[Set[String]] = {
    def one(f: Filter): Option[Set[String]] = f match {
      case EqualTo(`c`, v: String) => Some(Set(v))
      case In(`c`, vs) if vs.forall(_.isInstanceOf[String]) =>
        Some(vs.collect { case s: String => s }.toSet)
      case And(l, r) => (one(l), one(r)) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) => for {a <- one(l); b <- one(r)} yield a.union(b)
      case _ => None
    }
    // the pushed array is a conjunction: intersect the constrained ones
    pushed.flatMap(one).reduceOption(_ intersect _)
  }

  /** A closed rowKey interval (None bound = unbounded). All interval math
    * here may RELAX (GT→GTE, StartsWith→its >= prefix) but never narrow —
    * pruning keeps a superset of the matching files, the record filter and
    * Spark's residual do the exact cutting.
    */
  type KeyInterval = (Option[String], Option[String])

  /** Per pushed filter, the DISJUNCTION of rowKey intervals it allows —
    * None for a filter that implies no rowKey constraint at all. A file is
    * scannable iff for EVERY constrained filter SOME disjunct intersects
    * its [min, max]: the conjunctive single-interval case degenerates to
    * the old bounds check, and an `Or` of rowKey ranges (the HBase
    * MultiRowRangeFilter shape — e.g. a salted table's per-salt ranges)
    * prunes per disjunct instead of not at all.
    */
  def rowKeyIntervalSets(filters: Array[Filter]): Seq[Seq[KeyInterval]] = {
    // All interval math under UTF-8 BYTE order (graft.kv.Utf8Order): the
    // file [min, max] these intervals prune against comes from parquet's
    // unsigned-byte Binary stats, and Spark's own string comparisons are
    // UTF8String (byte) order too. JVM String (UTF-16) min/max diverges
    // for supplementary-plane vs [U+E000, U+FFFF] mixes and can NARROW
    // the interval → wrongly-pruned files (ADVICE r18 hazard class).
    def inter(a: KeyInterval, b: KeyInterval): Option[KeyInterval] = {
      val lo = (a._1 ++ b._1).reduceOption(graft.kv.Utf8Order.max)
      val hi = (a._2 ++ b._2).reduceOption(graft.kv.Utf8Order.min)
      if (lo.zip(hi).exists { case (l, h) => graft.kv.Utf8Order.compare(l, h) > 0 })
        None
      else Some((lo, hi))
    }
    // And of two disjunction-sets is the pairwise-intersection product;
    // past a sanity cap the filter just stops constraining (sound: pruning
    // is an optimization, never the correctness boundary).
    def one(f: Filter): Option[Seq[KeyInterval]] = f match {
      case EqualTo("rowKey", v: String) => Some(Seq((Some(v), Some(v))))
      case In("rowKey", vs) if vs.forall(_.isInstanceOf[String]) =>
        Some(vs.toSeq.collect { case s: String => (Some(s), Some(s)): KeyInterval })
      case GreaterThan("rowKey", v: String) => Some(Seq((Some(v), None)))
      case GreaterThanOrEqual("rowKey", v: String) => Some(Seq((Some(v), None)))
      case LessThan("rowKey", v: String) => Some(Seq((None, Some(v))))
      case LessThanOrEqual("rowKey", v: String) => Some(Seq((None, Some(v))))
      case StringStartsWith("rowKey", p) => Some(Seq((Some(p), None)))
      case And(l, r) => (one(l), one(r)) match {
        case (Some(a), Some(b)) =>
          if (a.length.toLong * b.length > 1024) Some(a) // keep one side: still sound
          else Some(for { x <- a; y <- b; iv <- inter(x, y) } yield iv)
        case (a, b) => a.orElse(b)
      }
      // Or constrains only when BOTH sides do (a row may satisfy either).
      case Or(l, r) => for { a <- one(l); b <- one(r) } yield a ++ b
      case _ => None
    }
    filters.toSeq.flatMap(one(_))
  }

  /** Whether a file spanning [lo, hi] can hold a row satisfying every
    * constrained filter. An empty-disjunction set means the filter is
    * unsatisfiable (e.g. `rowKey >= 'b' AND rowKey < 'a'`) — no file kept.
    */
  def keepsFile(sets: Seq[Seq[KeyInterval]], lo: String, hi: String): Boolean =
    sets.forall(_.exists { case (bLo, bHi) =>
      // byte-order compare — [lo, hi] is parquet's unsigned-byte stat range
      bLo.forall(graft.kv.Utf8Order.compare(_, hi) <= 0) &&
        bHi.forall(graft.kv.Utf8Order.compare(_, lo) >= 0)
    })

  /** The FINITE rowKey point set implied by the pushed conjunction, when
    * some conjunct pins rowKey to specific values (EqualTo / In / an Or of
    * those — the Get / multi-Get shapes). None = not point-constrained
    * (range predicates don't finite-ize). The planner probes each
    * candidate segment's manifest bloom with this set ([[KvBloom]]);
    * soundness needs only that the TRUE matching rows' keys are all in the
    * returned set, so And intersects and Or unions, and any unrecognized
    * conjunct is simply ignored (it can only narrow further).
    */
  def rowKeyPoints(filters: Array[Filter]): Option[Set[String]] = {
    def one(f: Filter): Option[Set[String]] = f match {
      case EqualTo("rowKey", v: String) => Some(Set(v))
      case In("rowKey", vs) if vs.forall(_.isInstanceOf[String]) =>
        Some(vs.iterator.collect { case s: String => s }.toSet)
      case Or(l, r) => for { a <- one(l); b <- one(r) } yield a | b
      case And(l, r) => (one(l), one(r)) match {
        case (Some(a), Some(b)) => Some(a & b)
        case (a, b) => a.orElse(b)
      }
      case _ => None
    }
    val sets = filters.flatMap(one(_))
    if (sets.isEmpty) None else Some(sets.reduce(_ & _))
  }

  /** Open one file's footer with read options from `conf`. The
    * one-argument `ParquetFileReader.open(file)` builds its options from
    * a fresh default `Configuration`, parsing the Hadoop XML resources
    * again for every file.
    */
  def openFooter(file: HadoopInputFile, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(file, HadoopReadOptions.builder(conf).build())

  /** rowKey [min, max] of one region file from its footer stats (union over
    * row groups); None when stats are missing.
    */
  def fileRowKeyRange(f: Path, conf: Configuration): Option[(String, String)] = {
    val r = openFooter(HadoopInputFile.fromPath(f, conf), conf)
    try {
      val ranges = r.getRowGroups.asScala.flatMap { block =>
        block.getColumns.asScala
          .find(_.getPath.toDotString == "rowKey")
          .flatMap { col =>
            val st = col.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else Some((
              new String(st.getMinBytes, java.nio.charset.StandardCharsets.UTF_8),
              new String(st.getMaxBytes, java.nio.charset.StandardCharsets.UTF_8)))
          }
      }
      if (ranges.isEmpty) None
      else Some((ranges.map(_._1).min(graft.kv.Utf8Order),
        ranges.map(_._2).max(graft.kv.Utf8Order)))
    } finally r.close()
  }

  /** Exact row count of one region file from its footer. */
  def fileRowCount(f: Path, conf: Configuration): Long = {
    val r = openFooter(HadoopInputFile.fromPath(f, conf), conf)
    try r.getRecordCount finally r.close()
  }
}
