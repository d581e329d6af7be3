package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

/** ROW/COLUMN DELETES for `graft-kv` tables — the HBase delete-marker
  * model, which the KV data model implies and every exporter consumes
  * implicitly (the `KeyValue` stream carries a TYPE byte —
  * ExportHBaseTableToDelimiteredTxt.java:151 reads cells whose Delete
  * types the server has already masked): a delete is not a rewrite, it is
  * a CELL — a tombstone committed like any other write, masking every put
  * at the same coordinate with `ts <= marker.ts` from the moment its
  * commit publishes, and physically purged later when a major compaction
  * rewrites the region ([[KvCompactor]]). At 100 TB this is the only
  * delete shape that works: a GDPR erasure of a million users is one
  * small sorted marker commit (seconds, O(deletes) bytes), not a rewrite
  * of every region that holds one of their cells (hours, O(table) bytes).
  *
  * ENCODING — markers are ordinary cells in a RESERVED QUALIFIER space,
  * so the five-column cell schema, the range-sorted sink, manifest stats,
  * blooms, snapshots, and the streaming tail all carry them untouched:
  *  - row delete:    `(rowKey, family = "\u0000", qualifier = "\u0000r",
  *    value = null, ts)` — masks EVERY cell of `rowKey` (any family) with
  *    `ts <= marker.ts`;
  *  - column delete: `(rowKey, family, qualifier = "\u0000c" + q,
  *    value = null, ts)` — masks cells of `(rowKey, family, q)` with
  *    `ts <= marker.ts`.
  * `"\u0000"` cannot appear in a user qualifier: the sink REFUSES
  * reserved-prefix qualifiers unless the write carries
  * `allowTombstones=true` (set by this API, compaction rewrites, and
  * deliberate replication pipes), so user data can never masquerade as a
  * delete.
  *
  * READ-TIME masking lives in the scan ([[KvScan]]): planning reads the
  * live marker set from the manifest-flagged tombstone segments (the
  * `d=` stat — zero extra I/O for marker-free tables, the overwhelmingly
  * common case), broadcasts it, and every partition reader drops masked
  * puts and the markers themselves in-stream. `ORDER`, pushdown, and
  * pruning are unchanged; only newer-put-than-marker survives, exactly
  * HBase's scanner. `.option("readTombstones", "true")` bypasses masking
  * (the replication/debug raw view). A streaming tail always ships RAW
  * cells, markers included — the WAL/replication-peer contract: deletes
  * must replicate.
  *
  * Scale shape: the masking state is the LIVE marker set, bounded by
  * [[MaxLiveMarkers]] and kept small by compaction purge (the same
  * assumption HBase's scanner makes — delete markers are held in scan
  * context until major compaction). Deletes land sorted through the
  * ordinary sink, so marker segments prune/bloom like any region file,
  * and a point Get of a deleted key is still a one-file bloom-hit probe
  * that then masks to empty.
  */
object KvDelete extends org.apache.spark.internal.Logging {

  /** Reserved first code point of every marker qualifier. */
  val MarkerPrefix = "\u0000"
  /** Whole-row tombstone qualifier (family is [[AllFamilies]]). */
  val RowMarkerQualifier = "\u0000r"
  /** Column tombstone qualifier prefix; the target qualifier follows. */
  val ColMarkerPrefix = "\u0000c"
  /** EXACT-VERSION delete-record qualifier prefix (HBase's
    * `KeyValue.Type.Delete`, the single-version delete): the target
    * qualifier follows, and the marker's own family / ts / value are the
    * deleted cell's — it names ONE cell version, not a `ts <=` range.
    * These are CHANGE RECORDS, not table state: retention compactions
    * emit them into manifest-side drop files ([[KvLog.Entry.dropFiles]])
    * so a CDC span crossing the pass can ship the drops (the Delta CDF
    * delete-row shape), and feed consumers absorb them with
    * [[applyVersionMarkers]]. They never enter a table's live segment
    * set through any engine path — but a raw replication pipe MAY copy
    * them into one (the HBase replication shape: Deletes ship as cells
    * and the TARGET masks and later compacts them), and then the
    * scan-side mask hides the named version ([[Mask.masked]], value-
    * blind like HBase) and a compaction rewrite applies and purges them
    * — a replica fed baseline + change feed CONVERGES with its
    * retention-compacted source.
    */
  val VersionMarkerPrefix = "\u0000v"
  /** Row markers mask every family; their own family slot is reserved. */
  val AllFamilies = "\u0000"

  /** Live markers a single table may accumulate before reads refuse with
    * a compact-first error: the broadcast mask must fit comfortably in
    * executor memory (~100 B/marker ⇒ ~400 MB at the cap). A healthy
    * table never approaches it — compaction purges markers continuously.
    */
  val MaxLiveMarkers: Long = 4L << 20

  def isMarkerQualifier(q: String): Boolean = q.startsWith(MarkerPrefix)

  /** Commit row tombstones for every rowKey in `keys` (a DataFrame with a
    * `rowKey` string column and optionally a `ts` long column; rows
    * missing a ts use `defaultTs`). `defaultTs` defaults to `Long.MaxValue`
    * — "mask every version, past and future, until a compaction purges
    * the marker", the GDPR-erasure shape; pass a real timestamp for
    * HBase's delete-as-of-now semantics (later writes with higher ts
    * survive). One ordinary sink append: sorted marker segments, manifest
    * entry, stats, blooms — O(deletes), never O(table).
    */
  def deleteRows(spark: SparkSession, path: String, keys: DataFrame,
      defaultTs: Long = Long.MaxValue, regions: Int = 1): Unit =
    writeMarkers(spark, path, regions,
      rowMarkerFrame(spark, path, keys, defaultTs))

  /** The row-marker cell frame [[deleteRows]] commits — the ONE marker
    * definition, salting included (markers on a salted table must store
    * salted keys or they land outside their targets' regions) — exposed
    * frame-in/frame-out for callers that FUSE markers with other cells
    * into a single append (the exact index refresh): the fused commit
    * then cannot drift from a direct deleteRows commit.
    */
  def rowMarkerFrame(spark: SparkSession, path: String, keys: DataFrame,
      defaultTs: Long = Long.MaxValue): DataFrame = {
    require(keys.columns.contains("rowKey"),
      "graft-kv delete: keys need a rowKey column")
    val ts = if (keys.columns.contains("ts")) coalesce(col("ts").cast(LongType), lit(defaultTs))
      else lit(defaultTs)
    saltedFor(spark, path, keys.select(
      col("rowKey").cast(StringType).as("rowKey"),
      lit(AllFamilies).as("family"),
      lit(RowMarkerQualifier).as("qualifier"),
      lit(null).cast(BinaryType).as("value"),
      ts.as("ts")))
  }

  /** Commit column tombstones: `cols` is a DataFrame with `rowKey`,
    * `family`, `qualifier` (the TARGET qualifier) and optionally `ts`.
    * Masks that coordinate's cells with `ts <= marker.ts`.
    */
  def deleteColumns(spark: SparkSession, path: String, cols: DataFrame,
      defaultTs: Long = Long.MaxValue, regions: Int = 1): Unit = {
    Seq("rowKey", "family", "qualifier").foreach(c =>
      require(cols.columns.contains(c), s"graft-kv delete: cols need a $c column"))
    val ts = if (cols.columns.contains("ts")) coalesce(col("ts").cast(LongType), lit(defaultTs))
      else lit(defaultTs)
    writeMarkers(spark, path, regions,
      saltedFor(spark, path, cols.select(
        col("rowKey").cast(StringType).as("rowKey"),
        col("family").cast(StringType).as("family"),
        concat(lit(ColMarkerPrefix), col("qualifier").cast(StringType)).as("qualifier"),
        lit(null).cast(BinaryType).as("value"),
        ts.as("ts"))))
  }

  /** Commit an already-SALTED marker frame ([[rowMarkerFrame]] /
    * [[deleteColumns]]' own salting) — the write itself never re-salts.
    */
  private def writeMarkers(spark: SparkSession, path: String, regions: Int,
      markers: DataFrame): Unit =
    markers.write.format("graft-kv")
      .option("regions", regions)
      .option("allowTombstones", "true")
      .mode("append").save(path)

  /** Salted tables store salted keys — markers must too, or they land
    * outside their targets' regions and mask nothing.
    */
  private def saltedFor(spark: SparkSession, path: String,
      markers: DataFrame): DataFrame = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    KvSalt.resolveAt(fs, dir, None).fold(markers)(KvSalt.salted(markers, _))
  }

  /** A SQL `DELETE FROM` translated to marker commits
    * ([[KvCellTable]]'s `SupportsDelete`): `keys` get row markers, or
    * column markers when `colTarget` pins (family, qualifier). `tsBound`
    * is the explicit `ts <= t` conjunct when present; otherwise the
    * marker uses the table's current max ts (exact for every row present
    * at delete time — the HBase delete-at-now analog for caller-defined
    * timestamps; a later INSERT with a smaller-or-equal ts is masked
    * until the marker compacts away, the same drift HBase accepts).
    * `rangeFilters` (mutually exclusive with `keys`) holds rowKey
    * range/prefix conjuncts: the delete first ENUMERATES the affected
    * live keys with a pruned masked scan, then commits one marker per
    * key — O(deleted keys) markers and scan work confined to the range's
    * regions, never the O(table) rewrite the row-level fallback pays.
    */
  final case class SqlDelete(keys: Seq[String], tsBound: Option[Long],
      colTarget: Option[(String, String)], truncate: Boolean = false,
      rangeFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil)

  /** Translate a pushed DELETE condition (a conjunction). Accepted shapes:
    * `rowKey = v` / `rowKey IN (...)` — OR a rowKey RANGE (any
    * conjunction of `>` / `>=` / `<` / `<=` / `LIKE 'p%'` on rowKey,
    * r13) — optionally `AND family = f AND qualifier = q` (column
    * delete), optionally `AND ts <= t` / `ts < t`; the bare `TRUE`
    * (TRUNCATE). Anything else returns None and Spark falls back to the
    * row-level rewrite — never a partial or approximate delete.
    */
  def translateSqlDelete(filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[SqlDelete] = {
    import org.apache.spark.sql.sources._
    if (filters.isEmpty || filters.toSeq == Seq(AlwaysTrue))
      return Some(SqlDelete(Nil, None, None, truncate = true))
    var keys: Option[Seq[String]] = None
    var range = Vector.empty[Filter]
    var fam: Option[String] = None
    var qual: Option[String] = None
    var ts: Option[Long] = None
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    filters.flatMap(conjuncts).foreach {
      case EqualTo("rowKey", v: String) if keys.isEmpty => keys = Some(Seq(v))
      case In("rowKey", vs) if keys.isEmpty && vs.forall(_.isInstanceOf[String]) =>
        keys = Some(vs.toSeq.collect { case s: String => s })
      case f @ GreaterThan("rowKey", _: String) => range :+= f
      case f @ GreaterThanOrEqual("rowKey", _: String) => range :+= f
      case f @ LessThan("rowKey", _: String) => range :+= f
      case f @ LessThanOrEqual("rowKey", _: String) => range :+= f
      case f @ StringStartsWith("rowKey", _) => range :+= f
      case EqualTo("family", v: String) if fam.isEmpty => fam = Some(v)
      case EqualTo("qualifier", v: String) if qual.isEmpty => qual = Some(v)
      case LessThanOrEqual("ts", v: java.lang.Long) if ts.isEmpty => ts = Some(v)
      // `ts < Long.MinValue` matches nothing; v - 1 would UNDERFLOW to a
      // forever-marker. Refuse the translation — the row-level fallback
      // then correctly deletes zero rows.
      case LessThan("ts", v: java.lang.Long)
          if ts.isEmpty && v.longValue() != Long.MinValue => ts = Some(v - 1)
      case _ => return None
    }
    // keys and ranges do not combine (`rowKey = 'a' AND rowKey > 'b'` is
    // a shape the planner normally folds; refuse rather than guess)
    if (keys.isDefined && range.nonEmpty) return None
    (keys, range, fam, qual) match {
      case (Some(ks), _, Some(f), Some(q)) => Some(SqlDelete(ks, ts, Some((f, q))))
      case (Some(ks), _, None, None) => Some(SqlDelete(ks, ts, None))
      case (None, r, Some(f), Some(q)) if r.nonEmpty =>
        Some(SqlDelete(Nil, ts, Some((f, q)), rangeFilters = r))
      case (None, r, None, None) if r.nonEmpty =>
        Some(SqlDelete(Nil, ts, None, rangeFilters = r))
      case _ => None // family/qualifier without the other (or no keys)
    }
  }

  /** Execute a translated SQL delete: one marker commit through
    * [[deleteRows]]/[[deleteColumns]] (TRUNCATE resets the table like an
    * overwrite, snapshots preserved). Driver-side O(keys).
    */
  def runSqlDelete(spark: SparkSession, path: String, d: SqlDelete): Unit = {
    import spark.implicits._
    if (d.truncate) {
      // Bare `DELETE FROM t` / `TRUNCATE TABLE t` are DML: they empty the
      // table but PRESERVE its history — one manifest entry removing the
      // whole live set (the Delta shape). Time travel to pre-truncate
      // versions, snapshots, and registered tails all stay valid; the
      // removed files await vacuum like any retired segment. (The
      // destructive reset — log and all — remains the path API's
      // explicit `mode("overwrite")`.)
      val dir = new Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      // Legacy (log-less) directories must be seeded first or the live
      // set is empty and the truncate would silently no-op while the scan's
      // directory-listing fallback still shows every row.
      if (fs.exists(dir)) KvLog.seedFromDirIfNeeded(fs, dir): Unit
      var attempts = 0
      var done = false
      while (!done) {
        val version = KvLog.live(fs, dir)
        val expect = version.seq + 1
        val live = version.names
        if (live.isEmpty) return
        try {
          KvLog.append(fs, dir, adds = Nil, removes = live,
            expectSeq = Some(expect))
          done = true
        } catch {
          case e: KvLog.ConcurrentCommitException =>
            attempts += 1
            if (attempts >= 20) throw e
        }
      }
      return
    }
    val ts = d.tsBound.getOrElse(currentMaxTs(spark, path))
    // RANGED delete (r13): enumerate the affected LIVE keys with a
    // pruned masked scan — the range reaches the region pruner, so the
    // scan touches only the range's regions; masking means already-
    // deleted keys get no redundant second marker — then commit one
    // marker per key through the ordinary frames. Fully distributed
    // (the key frame never lands on the driver), O(deleted keys).
    // The enumeration honors ALL the statement's conjuncts, not just the
    // rowKey range: a `AND family/qualifier` or `AND ts <= t` delete over
    // a wide range would otherwise commit one marker per range key —
    // O(range keys), not O(matching keys) — spuriously masking future
    // inserts at coordinates the statement never matched and racing
    // toward the MaxLiveMarkers cap. (Explicit-key deletes stay as the
    // user wrote them: O(listed keys) is the contract there.)
    val keyFrame: DataFrame =
      if (d.rangeFilters.nonEmpty) {
        val colMatch = d.colTarget match {
          case Some((f, q)) => col("family") === f && col("qualifier") === q
          case None => lit(true)
        }
        val tsMatch = d.tsBound match {
          case Some(t) => col("ts") <= t
          case None => lit(true)
        }
        spark.read.format("graft-kv").load(path)
          .filter(d.rangeFilters.map(rangeColumn).reduce(_ && _))
          .filter(colMatch && tsMatch)
          .select(col("rowKey")).distinct()
      } else d.keys.toDF("rowKey")
    d.colTarget match {
      case Some((f, q)) =>
        deleteColumns(spark, path,
          keyFrame.select(col("rowKey"),
            lit(f).as("family"), lit(q).as("qualifier")), defaultTs = ts)
      case None =>
        deleteRows(spark, path, keyFrame, defaultTs = ts)
    }
  }

  private def rangeColumn(f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.sources._
    f match {
      case GreaterThan("rowKey", v: String) => col("rowKey") > v
      case GreaterThanOrEqual("rowKey", v: String) => col("rowKey") >= v
      case LessThan("rowKey", v: String) => col("rowKey") < v
      case LessThanOrEqual("rowKey", v: String) => col("rowKey") <= v
      case StringStartsWith("rowKey", p) => col("rowKey").startsWith(p)
      case other => throw new IllegalStateException(
        s"graft-kv delete: unexpected range conjunct $other")
    }
  }

  /** The table's current max ts from manifest stats — the implicit bound
    * of an unbounded SQL delete. Falls back to Long.MaxValue when any
    * live file lacks stats (over-masking is the safe direction: a DELETE
    * must never leave matching rows visible).
    */
  private def currentMaxTs(spark: SparkSession, path: String): Long = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val version = KvLog.live(fs, dir)
    val live = version.names
    val stats = version.stats
    // Manifest ts bounds cover PUT rows only (the sink excludes marker ts
    // — a prior forever-delete's Long.MaxValue marker must not upgrade
    // this delete to forever). A file WITHOUT a stat has unknown content
    // → fall back to the over-masking direction. A stat-carrying file
    // with no ts bound holds no puts and contributes nothing.
    def foreverFallback(why: String): Long = {
      // Safe (over-masking) but SURPRISING SQL semantics: the marker
      // masks FUTURE inserts at the deleted coordinates until a major
      // compaction purges it — say so where the operator can see it.
      logWarning(s"graft-kv: unbounded SQL DELETE on $path commits a " +
        s"FOREVER marker (ts=Long.MaxValue) because $why — re-inserts of " +
        "the deleted keys stay masked until a major compaction purges " +
        "the marker; run KvCompactor.compact to clear it")
      Long.MaxValue
    }
    if (live.isEmpty) Long.MaxValue // empty table: the marker masks nothing
    else if (!live.forall(stats.contains))
      foreverFallback("the table has stat-less (legacy) files whose max " +
        "ts is unknown")
    else {
      val bounds = live.flatMap(n => stats(n).maxTs)
      if (bounds.isEmpty) Long.MaxValue else bounds.max
    }
  }

  /** The broadcast-able live mask: per deleted rowKey, the newest row
    * marker ts and the newest column marker ts per (family, qualifier).
    * Only the NEWEST marker per coordinate matters — a put masked by an
    * older marker (`ts <= t1 <= t2`) is masked by the newer one too — so
    * the mask is lossless and O(live coordinates), not O(markers ever).
    * Keys are [[org.apache.spark.unsafe.types.UTF8String]] so readers
    * probe with the scan's own row values, zero per-row conversions.
    */
  final class Mask(
      val rowTs: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long],
      val colTs: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
        java.util.HashMap[ColKey, java.lang.Long]],
      /** EXACT-VERSION masks ([[VersionMarkerPrefix]], r17): a replicated
        * retention drop record masks the single version at its
        * coordinate + ts + VALUE — drop records carry the dropped
        * cell's own value and matching uses it, so the degenerate
        * same-coordinate same-ts different-value pair masks EXACTLY the
        * copy the source dropped (the feed-side
        * [[applyVersionMarkers]] matches identically — the two
        * consumers of one feed can never diverge). Keyed by rowKey
        * first so the overwhelming majority of rows (no version marker
        * on their key) pay one map probe and ZERO allocation.
        */
      val versionsByRow: java.util.HashMap[
          org.apache.spark.unsafe.types.UTF8String, VersionEntries] =
        new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
          VersionEntries]()) extends Serializable {

    def isEmpty: Boolean =
      rowTs.isEmpty && colTs.isEmpty && versionsByRow.isEmpty

    /** The exact-version masks of `rowKey`, or null — callers probe this
      * FIRST and only materialize the row's value bytes on a hit.
      */
    def versionsFor(rowKey: org.apache.spark.unsafe.types.UTF8String)
        : VersionEntries =
      if (versionsByRow.isEmpty) null else versionsByRow.get(rowKey)

    /** Whether a put at this coordinate is masked by a row/column
      * tombstone. Exact-version masks are probed separately
      * ([[versionsFor]]) because they need the row's VALUE, which the
      * reader fetches only on a rowKey hit.
      */
    def masked(rowKey: org.apache.spark.unsafe.types.UTF8String,
        family: org.apache.spark.unsafe.types.UTF8String,
        qualifier: org.apache.spark.unsafe.types.UTF8String, ts: Long): Boolean = {
      val r = rowTs.get(rowKey)
      if (r != null && ts <= r.longValue()) return true
      val byCol = colTs.get(rowKey)
      if (byCol == null) return false
      val c = byCol.get(ColKey(family, qualifier))
      c != null && ts <= c.longValue()
    }
  }

  final case class ColKey(
      family: org.apache.spark.unsafe.types.UTF8String,
      qualifier: org.apache.spark.unsafe.types.UTF8String) extends Serializable

  /** One rowKey's exact-version masks as parallel arrays sorted by ts —
    * the r22 replacement for a `HashSet[VersionCell]`: the scan-side probe
    * was one case-class allocation plus a 4-field hash (value bytes
    * included) PER ROW of a key that carries any version mask, which on a
    * freshly-replicated table (every key masked) dominated the read. The
    * array probe is a primitive binary search on ts, field-equality checks
    * only inside the (tiny) equal-ts run, and the row's value bytes are
    * wrapped only when coordinate + ts already match — zero allocation on
    * the miss path. Qualifiers are stored stripped of
    * [[VersionMarkerPrefix]]; `value` entries may be null (null-valued
    * cells), matched null-to-null like the feed-side `<=>`.
    */
  final class VersionEntries(
      val ts: Array[Long],
      val family: Array[org.apache.spark.unsafe.types.UTF8String],
      val qualifier: Array[org.apache.spark.unsafe.types.UTF8String],
      val value: Array[org.apache.spark.unsafe.types.UTF8String])
    extends Serializable {

    /** Whether the mask names exactly (family, qualifier, t, value) —
      * `valueIsNull`/`valueBytes` split so the UTF8String wrapper is built
      * once and only when a coordinate+ts candidate exists.
      */
    def containsCell(
        fam: org.apache.spark.unsafe.types.UTF8String,
        qual: org.apache.spark.unsafe.types.UTF8String,
        t: Long,
        valueIsNull: Boolean,
        valueBytes: Array[Byte]): Boolean = {
      var lo = 0
      var hi = ts.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ts(mid) < t) lo = mid + 1 else hi = mid
      }
      var v: org.apache.spark.unsafe.types.UTF8String = null
      var vReady = valueIsNull
      var i = lo
      while (i < ts.length && ts(i) == t) {
        if (family(i).equals(fam) && qualifier(i).equals(qual)) {
          val sv = value(i)
          if (sv == null) {
            if (valueIsNull) return true
          } else if (!valueIsNull) {
            if (!vReady) {
              v = org.apache.spark.unsafe.types.UTF8String.fromBytes(valueBytes)
              vReady = true
            }
            if (sv.equals(v)) return true
          }
        }
        i += 1
      }
      false
    }
  }

  /** Stream the marker rows physically residing in `files` — the ONE
    * marker-segment reader (pushed `qualifier < "\u0001"` record filter,
    * so row-group stats skip marker-free groups). Read-time masking
    * ([[KvCellSource]]'s liveMarkers) and the rewrite sidecar
    * ([[KvRowLevelOps]]) both come through here, so the marker encoding
    * and the pushdown shape cannot silently drift apart between the
    * consumers. Emits (STORED rowKey, family, qualifier, ts) per marker.
    */
  private[graft] def foreachMarkerRow(
      conf: org.apache.hadoop.conf.Configuration, files: Seq[Path])(
      f: (String, String, String, Long, Array[Byte]) => Unit): Unit = {
    val cols = Seq("rowKey", "family", "qualifier", "ts", "value")
    files.foreach { p =>
      val r = org.apache.parquet.hadoop.ParquetReader
        .builder(new KvReadSupport(cols, cols, 0), p)
        .withConf(conf)
        .withFilter(org.apache.parquet.filter2.compat.FilterCompat.get(
          org.apache.parquet.filter2.predicate.FilterApi.lt(
            org.apache.parquet.filter2.predicate.FilterApi
              .binaryColumn("qualifier"),
            org.apache.parquet.io.api.Binary.fromString("\u0001"))))
        .build()
      try {
        var row = r.read()
        while (row != null) {
          f(row.getUTF8String(0).toString, row.getUTF8String(1).toString,
            row.getUTF8String(2).toString, row.getLong(3),
            if (row.isNullAt(4)) null else row.getBinary(4))
          row = r.read()
        }
      } finally r.close()
    }
  }

  /** Build the [[Mask]] from raw marker cells
    * (rowKey, family, qualifier, ts) in LOGICAL key space. Driver-side;
    * caller bounds the input ([[MaxLiveMarkers]]).
    */
  def buildMask(markers: Iterator[(String, String, String, Long, Array[Byte])])
      : Mask = {
    import org.apache.spark.unsafe.types.UTF8String
    val rowTs = new java.util.HashMap[UTF8String, java.lang.Long]()
    val colTs = new java.util.HashMap[UTF8String, java.util.HashMap[ColKey, java.lang.Long]]()
    // Per-key (ts, family, qualifier, value) quadruples, frozen below into
    // ts-sorted parallel arrays ([[VersionEntries]]). Duplicate markers are
    // kept as-is — containsCell is membership, duplicates cannot change it.
    val versionBufs = new java.util.HashMap[UTF8String,
      scala.collection.mutable.ArrayBuffer[(Long, UTF8String, UTF8String, UTF8String)]]()
    markers.foreach { case (rk, f, q, ts, v) =>
      val key = UTF8String.fromString(rk)
      if (q == RowMarkerQualifier) {
        val prev = rowTs.get(key)
        if (prev == null || prev.longValue() < ts) rowTs.put(key, ts)
      } else if (q.startsWith(ColMarkerPrefix)) {
        val ck = ColKey(UTF8String.fromString(f),
          UTF8String.fromString(q.substring(ColMarkerPrefix.length)))
        var byCol = colTs.get(key)
        if (byCol == null) {
          byCol = new java.util.HashMap[ColKey, java.lang.Long]()
          colTs.put(key, byCol)
        }
        val prev = byCol.get(ck)
        if (prev == null || prev.longValue() < ts) byCol.put(ck, ts)
      }
      else if (q.startsWith(VersionMarkerPrefix)) {
        var buf = versionBufs.get(key)
        if (buf == null) {
          buf = new scala.collection.mutable.ArrayBuffer[
            (Long, UTF8String, UTF8String, UTF8String)](4)
          versionBufs.put(key, buf)
        }
        buf += ((ts, UTF8String.fromString(f),
          UTF8String.fromString(q.substring(VersionMarkerPrefix.length)),
          if (v == null) null else UTF8String.fromBytes(v)))
      }
      // any other reserved qualifier: unknown marker kind from a newer
      // writer — tolerated as no-op for forward compatibility
    }
    val versions = new java.util.HashMap[UTF8String, VersionEntries]()
    versionBufs.forEach { (key, buf) =>
      val sorted = buf.sortInPlace()(Ordering.by(_._1)).toArray
      versions.put(key, new VersionEntries(
        sorted.map(_._1), sorted.map(_._2), sorted.map(_._3),
        sorted.map(_._4))): Unit
    }
    new Mask(rowTs, colTs, versions)
  }

  /** Split a cell frame into (masked puts, compacted markers) — the
    * COMPACTION-side masking ([[KvCompactor]] calls this while rewriting
    * merged segments, the one place masked bytes physically disappear).
    * The marker output is compacted to the newest marker per coordinate
    * (lossless, see [[Mask]]); the put output drops every masked cell.
    * Pure DataFrame composition: the marker side is tiny relative to the
    * merge, so AQE broadcasts the mask joins — no driver materialization.
    */
  def applyMarkers(cells: DataFrame): (DataFrame, DataFrame) =
    applyMarkers(cells, cells)

  /** [[applyMarkers]] with an explicit marker source — the state+delta
    * merge shape ([[graft.Queries.kvIncrementalPivot]]'s recipe): the
    * materialized state side can never hold markers (it is the output
    * of a previous application), so deriving the mask from the DELTA
    * alone keeps the three marker aggregates O(changes) instead of
    * rescanning state ∪ delta — at scale the state side IS the table.
    */
  def applyMarkers(cells: DataFrame, markerSource: DataFrame)
      : (DataFrame, DataFrame) = {
    val isMarker = substring(col("qualifier"), 1, 1) === lit(MarkerPrefix)
    val puts = cells.filter(!isMarker)
    val markers = markerSource.filter(isMarker)
    val rowM = markers.filter(col("qualifier") === RowMarkerQualifier)
      .groupBy(col("rowKey")).agg(max(col("ts")).as("_rts"))
    val colM = markers.filter(col("qualifier").startsWith(ColMarkerPrefix))
      .select(col("rowKey"), col("family"),
        expr(s"substring(qualifier, ${ColMarkerPrefix.length + 1})").as("qualifier"),
        col("ts"))
      .groupBy(col("rowKey"), col("family"), col("qualifier"))
      .agg(max(col("ts")).as("_cts"))
    // EXACT-VERSION markers (replicated retention drops): applied to the
    // merged puts VALUE-AWARE on all five fields (coordinate + ts +
    // value, `<=>` for null-valued cells) — identical to the scan-side
    // [[Mask]]/[[VersionCell]] matching and [[applyVersionMarkers]], so
    // the degenerate same-coordinate same-ts different-value pair masks
    // exactly the copy the source dropped. DISTINCT-carried rather than
    // newest-per-coordinate — each names one version, so compressing to
    // the newest would un-delete the older dropped versions.
    val verM = markers.filter(col("qualifier").startsWith(VersionMarkerPrefix))
      .select(col("rowKey").as("_vr"), col("family").as("_vf"),
        expr(s"substring(qualifier, ${VersionMarkerPrefix.length + 1})").as("_vq"),
        col("ts").as("_vt"), col("value").as("_vv"))
      .distinct()
    val survivors = puts
      .join(rowM, Seq("rowKey"), "left")
      .filter(col("_rts").isNull || col("ts") > col("_rts"))
      .drop("_rts")
      .join(colM, Seq("rowKey", "family", "qualifier"), "left")
      .filter(col("_cts").isNull || col("ts") > col("_cts"))
      .drop("_cts")
      // SHUFFLE_HASH (r22, guide §3.1 "pick the strategy deliberately"):
      // the marker side is drop-sized by construction (O(changes), and the
      // scan-side mask caps at MaxLiveMarkers), so building its hash per
      // partition beats sort-merge's sort of BOTH relations on the 5-part
      // key (value bytes included) — measured 2.2 → 1.3 s on the
      // state+delta merge, 1.0 → 0.55 s on the CDC retention span.
      .join(verM.hint("shuffle_hash"),
        col("rowKey") === col("_vr") && col("family") === col("_vf") &&
          col("qualifier") === col("_vq") && col("ts") === col("_vt") &&
          col("value") <=> col("_vv"),
        "left_anti")
    val compactedMarkers =
      rowM.select(col("rowKey"), lit(AllFamilies).as("family"),
        lit(RowMarkerQualifier).as("qualifier"),
        lit(null).cast(BinaryType).as("value"), col("_rts").as("ts"))
        .unionByName(colM.select(col("rowKey"), col("family"),
          concat(lit(ColMarkerPrefix), col("qualifier")).as("qualifier"),
          lit(null).cast(BinaryType).as("value"), col("_cts").as("ts")))
        .unionByName(verM.select(col("_vr").as("rowKey"),
          col("_vf").as("family"),
          concat(lit(VersionMarkerPrefix), col("_vq")).as("qualifier"),
          // the carry PRESERVES the dropped cell's value — the marker's
          // identity for value-aware matching; nulling it here would
          // make a marker that survived one minor pass stop matching
          col("_vv").as("value"), col("_vt").as("ts")))
    (survivors, compactedMarkers)
  }

  /** Absorb EXACT-VERSION delete records ([[VersionMarkerPrefix]]) into a
    * cell frame — the CDC-consumer side of retention drops: every cell
    * matching a marker's full coordinate (rowKey, family, target
    * qualifier, ts, value) is removed, and the markers themselves with
    * it; row/column tombstones and every other cell pass through for the
    * consumer's usual marker handling. Matching is VALUE EQUALITY on all
    * five fields — byte-identical duplicate cells are indistinguishable,
    * so one marker removes every identical copy (a multiplicity no LWW
    * consumer can observe). Pure DataFrame composition: the marker side
    * is drop-sized, so AQE broadcasts the anti join — no driver
    * materialization, no O(feed²).
    */
  def applyVersionMarkers(cells: DataFrame): DataFrame =
    applyVersionMarkers(cells, cells)

  /** [[applyVersionMarkers]] with an explicit marker source: when the
    * consumer KNOWS which leg of its composition can carry version
    * markers (they ship only through change feeds — a baseline scan
    * never holds one), passing just that leg keeps the marker
    * derivation from rescanning the whole union (the baseline side at
    * scale is the table; the feed side is O(changes)).
    */
  def applyVersionMarkers(cells: DataFrame, markerSource: DataFrame)
      : DataFrame = {
    val isV = col("qualifier").startsWith(VersionMarkerPrefix)
    val markers = markerSource.filter(isV).select(
      col("rowKey").as("_mr"), col("family").as("_mf"),
      expr(s"substring(qualifier, ${VersionMarkerPrefix.length + 1})").as("_mq"),
      col("value").as("_mv"), col("ts").as("_mt"))
    // SHUFFLE_HASH: same deliberate choice (and measurement) as
    // applyMarkers' version anti join — markers are the by-construction
    // small side; sorting the cell relation on the 5-part key was the cost.
    cells.filter(!isV).join(markers.hint("shuffle_hash"),
      col("rowKey") === col("_mr") && col("family") === col("_mf") &&
        col("qualifier") === col("_mq") && col("ts") === col("_mt") &&
        col("value") <=> col("_mv"),
      "left_anti")
  }
}
