package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** NAMED-TABLE catalog for `graft-kv` — the DSv2 `TableCatalog` that turns
  * the path-based connector into the reference's actual UX: every CLI verb
  * there takes a table NAME (`CreateTable`/`PopulateTable`,
  * App.java:14-30), and a SQL user expects
  * `CREATE TABLE cat.ns.t ... USING graft-kv`, `INSERT INTO`, `SELECT`,
  * `SHOW TABLES`, `DROP TABLE` — not format+path plumbing.
  *
  * Layout is the classic warehouse shape: one root directory
  * (`spark.sql.catalog.<name>.warehouse`), one directory per namespace,
  * one `graft-kv` table directory per table. All catalog state IS the
  * filesystem — no metastore to run or lose; a table directory created by
  * the path API is adoptable by the catalog and vice versa, and
  * everything the connector records per table (manifest log, salt
  * property, snapshots) travels with the directory.
  *
  * Session wiring:
  * {{{
  *   spark.sql.catalog.mycat           = graft.sources.GraftKvCatalog
  *   spark.sql.catalog.mycat.warehouse = /data/kv-warehouse
  * }}}
  *
  * Table properties at CREATE:
  *  - `regions` — the write fan-out recorded for this table; INSERTs
  *    through the catalog use it without the caller passing an option.
  *  - `salt_buckets` — registers the table salted ([[KvSalt]]) BEFORE any
  *    row lands, so every later write must agree and every read
  *    auto-detects.
  *  - `codec` — default compression for catalog writes.
  * Recorded in `_log/_table_props` (small, read once per table
  * resolution — bounded driver metadata). All recorded properties except
  * `salt_buckets` (physical layout) are mutable later via
  * `ALTER TABLE ... SET/UNSET TBLPROPERTIES` ([[GraftKvCatalog.alterTable]]).
  *
  * At 100 TB the catalog adds nothing to the data path: name → directory
  * resolution is one property-file read; scans/writes are the same
  * pruned, pushed, range-sorted connector paths the path API uses.
  */
object GraftKvCatalog {
  /** Resolve a catalog-qualified name (`cat.ns.table`) to the table's
    * DIRECTORY — the bridge to the path-level APIs the SQL surface cannot
    * express: [[KvSalt.saltedWrite]] (a salted INSERT needs the salting
    * projection), [[KvDelete]]'s bulk delete frames, [[KvSnapshot]],
    * [[KvCompactor]]. Reads the catalog's warehouse from the session conf;
    * fails loudly for unknown catalogs or non-3-part names.
    */
  def tablePathOf(spark: org.apache.spark.sql.SparkSession,
      qualified: String): String = {
    val parts = qualified.split("\\.")
    require(parts.length == 3,
      s"graft-kv catalog: expected cat.namespace.table, got '$qualified'")
    // The SAME identifier rule the catalog proper enforces: a namespace or
    // table segment with path characters ('/', '..') would otherwise
    // string-interpolate to a directory OUTSIDE the warehouse's ns/table
    // layout — a path the catalog itself could never have created.
    Seq(parts(1), parts(2)).foreach { seg =>
      require(IdentifierRe.pattern.matcher(seg).matches(),
        s"graft-kv catalog: invalid identifier '$seg' in '$qualified'")
    }
    val wh = spark.conf.getOption(s"spark.sql.catalog.${parts(0)}.warehouse")
      .getOrElse(throw new IllegalArgumentException(
        s"graft-kv catalog: no warehouse configured for catalog " +
          s"'${parts(0)}' (spark.sql.catalog.${parts(0)}.warehouse)"))
    s"$wh/${parts(1)}/${parts(2)}"
  }

  /** One identifier grammar for every resolution path — [[tablePathOf]]
    * and the catalog's own namespace/table admission share it.
    */
  private[sources] val IdentifierRe = "[A-Za-z0-9][A-Za-z0-9._-]{0,127}".r
}

class GraftKvCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _
  private var hconf: org.apache.hadoop.conf.Configuration = _

  private def fs: FileSystem = warehouse.getFileSystem(hconf)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = options.get("warehouse")
    require(wh != null && wh.nonEmpty,
      s"graft-kv catalog '$name': set spark.sql.catalog.$name.warehouse")
    warehouse = new Path(wh)
    hconf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
  }

  override def name(): String = catalogName

  // ------------------------------------------------------------ namespaces

  private def nsPath(ns: Array[String]): Path = {
    require(ns.length == 1,
      s"graft-kv catalog: single-level namespaces only, got ${ns.mkString(".")}")
    requireValidName(ns(0))
    new Path(warehouse, ns(0))
  }

  private def requireValidName(n: String): Unit =
    require(GraftKvCatalog.IdentifierRe.pattern.matcher(n).matches(),
      s"graft-kv catalog: invalid identifier '$n'")

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).filter(_.isDirectory)
      .map(st => Array(st.getPath.getName))
      .filterNot(_(0).startsWith("_")).sortBy(_(0))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map("location" -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsPath(namespace)): Unit
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft-kv catalog: namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(
        s"graft-kv catalog: namespace ${namespace.mkString(".")} is not " +
          "empty (use CASCADE)")
    fs.delete(nsPath(namespace), true)
  }

  // ---------------------------------------------------------------- tables

  private def tablePath(ident: Identifier): Path = {
    requireValidName(ident.name)
    new Path(nsPath(ident.namespace), ident.name)
  }

  /** A catalog table is a directory the connector recognizes: it carries a
    * manifest log (every catalog-created or engine-written table does).
    */
  override def tableExists(ident: Identifier): Boolean =
    namespaceExists(ident.namespace) && fs.exists(tablePath(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(nsPath(namespace)).filter(_.isDirectory)
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .filterNot(_.name.startsWith("_")).sortBy(_.name)
  }

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val p = tablePath(ident)
    new KvCatalogTable(s"$catalogName.${ident.namespace.mkString(".")}.${ident.name}",
      p.toString, KvTableProps.read(fs, p))
  }

  /** SQL time travel — `SELECT ... FROM cat.ns.t VERSION AS OF <seq>`:
    * the named version is the manifest log seq ([[KvLog]]), injected as
    * the scan's `asOfSeq` option. Same replay, same durability caveats as
    * the path API.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val p = tablePath(ident)
    new KvCatalogTable(s"$catalogName.${ident.namespace.mkString(".")}.${ident.name}",
      p.toString, KvTableProps.read(fs, p),
      readOptions = KvTimeTravel.versionOptions(version))
  }

  /** `TIMESTAMP AS OF` — the scan's `asOfTime` resolves the last version
    * published at or before it ([[KvTimeTravel]] holds the unit contract).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val p = tablePath(ident)
    new KvCatalogTable(s"$catalogName.${ident.namespace.mkString(".")}.${ident.name}",
      p.toString, KvTableProps.read(fs, p),
      readOptions = KvTimeTravel.timestampOptions(timestamp))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    require(partitions.isEmpty,
      "graft-kv catalog: tables are range-partitioned by rowKey by the " +
        "sink's own contract — PARTITIONED BY is not applicable")
    // Empty schema (CTAS resolution) and the exact cell schema are the
    // two valid shapes; anything else is a user error worth a loud list.
    val cellNames = graft.kv.Cell.schema.fieldNames.toSet
    require(schema.isEmpty || schema.fieldNames.toSet == cellNames,
      s"graft-kv catalog: a kv table has exactly columns " +
        s"${graft.kv.Cell.schema.fieldNames.mkString(", ")}; got " +
        s"${schema.fieldNames.mkString(", ")}")
    val p = tablePath(ident)
    // EVERY property validation runs BEFORE the directory materializes: a
    // refused CREATE must not leave a half-created table behind (a knob
    // that only failed at the first INSERT would strand the table until
    // an ALTER fixed it). The same validation guards alterTable.
    val props = properties.asScala.toMap
      .filter { case (k, _) => KvTableProps.Recorded(k) }
    KvTableProps.validate(props)
    fs.mkdirs(p)
    KvLog.ensureLogDir(fs, p)
    props.get("salt_buckets").foreach(n =>
      KvSalt.register(fs, p, n.toInt))
    KvTableProps.write(fs, p, props)
    new KvCatalogTable(s"$catalogName.${ident.namespace.mkString(".")}.${ident.name}",
      p.toString, props)
  }

  /** `ALTER TABLE ... SET/UNSET TBLPROPERTIES` over the RECORDED write
    * defaults (regions, codec, the maintain* policy family — the same
    * attributes HBase `alter` mutates after CreateTable.java:40-59 pins
    * them at create): metadata-only knobs every subsequent write resolves
    * from the table, so changing one must not require destroying the
    * table. The one exception is `salt_buckets`, which is LAYOUT — every
    * stored key embeds the salt — so altering it would silently mis-route
    * every read; it keeps refusing with that explanation.
    *
    * Validation is the SAME eager pass CREATE runs ([[KvTableProps
    * .validate]]), applied to the fully-merged result BEFORE anything is
    * written: a refused ALTER leaves the recorded properties untouched.
    * Schema/partition changes are refused — the cell schema is fixed.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val p = tablePath(ident)
    def recordedKey(k: String): String = {
      if (k.equalsIgnoreCase("salt_buckets"))
        throw new UnsupportedOperationException(
          "graft-kv catalog: salt_buckets is a physical LAYOUT property — " +
            "every stored rowKey embeds the salt, so altering the " +
            "metadata would mis-route reads over the existing files. " +
            "CALL sys.resalt(table => 'ns.t', buckets => n) performs the " +
            "honest form: a one-pass rewrite into the new layout " +
            "(buckets => 0 converts to unsalted).")
      require(KvTableProps.Recorded(k),
        s"graft-kv catalog: '$k' is not a recorded graft-kv table " +
          s"property — settable: ${KvTableProps.Recorded.toSeq.sorted.mkString(", ")}")
      k
    }
    val updated = changes.foldLeft(KvTableProps.read(fs, p)) { (props, c) =>
      c match {
        case set: TableChange.SetProperty =>
          props + (recordedKey(set.property) -> set.value)
        case rm: TableChange.RemoveProperty =>
          props - recordedKey(rm.property)
        case other =>
          throw new UnsupportedOperationException(
            "graft-kv catalog: the cell schema is fixed — ALTER TABLE " +
              s"supports SET/UNSET TBLPROPERTIES only, got $other")
      }
    }
    KvTableProps.validate(updated)
    KvTableProps.replace(fs, p, updated)
    new KvCatalogTable(s"$catalogName.${ident.namespace.mkString(".")}.${ident.name}",
      p.toString, updated)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && fs.delete(tablePath(ident), true)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (!namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    if (!fs.rename(tablePath(oldIdent), tablePath(newIdent)))
      throw new IllegalStateException(
        s"graft-kv catalog: rename $oldIdent -> $newIdent failed")
  }

  // ------------------------------------------------------------- functions

  /** The storage-partitioned-join support surface ([[KvRegionLayout]]):
    * Spark converts a scan's reported `KeyGroupedPartitioning` into a
    * catalyst one only when the relation's catalog can load the named
    * transform function — this is that loader. The `grange_<token>`
    * names carry layout IDENTITY only (evaluation state rides the
    * transform's literal argument), so any well-formed name binds to the
    * one implementation; tokens never collide in practice and a wrong
    * token could at worst fail co-location, never correctness.
    */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && KvRegionLayout.isRegionFnName(ident.name()))
      KvRegionUnbound(ident.name())
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  /** The region functions are anonymous infrastructure (one per layout,
    * named by content hash) — not enumerable, and not meant for direct
    * SQL use.
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array.empty

  // ------------------------------------------------------------ procedures

  /** Lifecycle verbs under the reserved `sys` namespace ([[KvProcedures]]):
    * `CALL cat.sys.compact(table => 'ns.t')` etc. The namespace is
    * virtual — it never collides with data namespaces because procedures
    * resolve through this method only, and data namespaces named `sys`
    * remain ordinary directories for table resolution.
    */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val known = ident.namespace.length == 1 &&
      ident.namespace()(0).equalsIgnoreCase(KvProcedures.Namespace)
    val proc = if (known) KvProcedures.load(warehouse, ident.name) else None
    proc.getOrElse(throw new RuntimeException(
      s"graft-kv catalog: no procedure ${ident.namespace.mkString(".")}." +
        s"${ident.name} — available: " +
        KvProcedures.Names.map(n => s"${KvProcedures.Namespace}.$n")
          .mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty ||
        (namespace.length == 1 &&
          namespace(0).equalsIgnoreCase(KvProcedures.Namespace)))
      KvProcedures.Names
        .map(n => Identifier.of(Array(KvProcedures.Namespace), n)).toArray
    else Array.empty
}

/** Catalog-recorded per-table write defaults (`_log/_table_props`). */
private[sources] object KvTableProps {

  /** Properties the catalog records; everything else (provider, location,
    * comment, Spark-internal keys) is dropped rather than persisted.
    * The `maintain*` family declares SELF-MAINTENANCE (the HBase stance —
    * region servers compact automatically; nobody schedules it): every
    * write into a `maintain=true` table — INSERT/CTAS/OVERWRITE,
    * streaming epochs, marker DELETEs, and UPDATE/MERGE rewrites — runs
    * one idempotent BEST-EFFORT [[KvMaintenance]] pass after its commit
    * is durable (a housekeeping failure never fails the committed
    * statement), so DML-heavy tables keep their segment count and marker
    * backlog bounded without an operator remembering `CALL sys.compact`.
    * Values are validated eagerly at CREATE and ALTER ([[validate]]) so
    * an invalid knob is never recorded.
    */
  val Recorded: Set[String] = Set("regions", "salt_buckets", "codec",
    "maintain", "maintain_max_segments", "maintain_target_region_bytes",
    "maintain_grace_ms", "ttl_ms", "versions")

  /** The one eager property-validation pass — CREATE runs it before the
    * table directory materializes, ALTER runs it on the merged result
    * before the props file is replaced, so an invalid knob can never be
    * RECORDED (the write path additionally parses leniently in case the
    * file is corrupted out of band).
    */
  def validate(props: Map[String, String]): Unit = {
    def intOf(k: String): Option[Int] = props.get(k).map { v =>
      try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-kv catalog: table property $k must be an integer, got '$v'")
      }
    }
    intOf("regions").foreach(r => require(r > 0,
      s"graft-kv catalog: regions must be positive, got $r"))
    maintainPolicyOf(props): Unit
    intOf("salt_buckets").foreach(KvSalt.requireBuckets)
    props.get("codec").foreach(KvCodecs.parse(_): Unit)
  }

  /** Parse the recorded `maintain*` properties into the policy — None
    * when maintenance is not declared. [[validate]] runs this at
    * CREATE/ALTER DDL time, so a typo'd knob fails the statement that
    * introduces it, not a later INSERT.
    */
  def maintainPolicyOf(props: Map[String, String])
      : Option[KvMaintenance.Policy] =
    KvMaintenance.Policy.parse(props.get,
      k => s"graft-kv catalog: table property $k")

  /** Whether one recorded maintain* value parses — the injection-time
    * LENIENT screen ([[KvCatalogTable.newWriteBuilder]]): values were
    * validated at CREATE/ALTER, so a failure here is out-of-band file
    * corruption, warned and skipped rather than bricking every INSERT
    * (maintenance is best-effort housekeeping by contract).
    */
  def wellFormedMaintain(key: String, value: String): Boolean =
    scala.util.Try(maintainPolicyOf(Map(key -> value))).isSuccess

  private def propsPath(table: Path) =
    new Path(new Path(table, KvLog.LogDirName), "_table_props")

  def read(fs: FileSystem, table: Path): Map[String, String] = {
    val p = propsPath(table)
    if (!fs.exists(p)) Map.empty
    else KvLog.readText(fs, p).linesIterator
      .flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => Some(k -> v)
          case _ => None
        }
      }.toMap
  }

  /** Written via temp + swap, never an in-place truncate: CREATE writes
    * the file before the table is visible, but ALTER rewrites it while
    * readers and writers resolve it concurrently — `fs.create(overwrite)`
    * would expose an empty/partial file for the whole write window (and
    * forever, on a crash mid-write), silently degrading every recorded
    * default to its fallback. On a local filesystem the swap is a true
    * atomic move; elsewhere the exposure shrinks to the delete→rename
    * gap (file momentarily ABSENT — the read path treats that as
    * no-properties, the same recoverable fallback).
    */
  def write(fs: FileSystem, table: Path, props: Map[String, String]): Unit =
    if (props.nonEmpty) {
      val target = propsPath(table)
      val tmp = new Path(target.getParent,
        s"._table_props.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      KvLog.writeText(fs, tmp,
        props.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString("", "\n", "\n"))
      if (Option(fs.getUri.getScheme).contains("file")) {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } else {
        fs.delete(target, false)
        require(fs.rename(tmp, target),
          s"graft-kv: publishing $tmp over $target failed — the table's " +
            "recorded properties are temporarily absent; re-run the ALTER")
      }
    }

  /** [[write]] that also handles the UNSET-to-empty case: an ALTER that
    * removes the last recorded property deletes the props file rather
    * than leaving a stale one behind.
    */
  def replace(fs: FileSystem, table: Path, props: Map[String, String]): Unit =
    if (props.isEmpty) { fs.delete(propsPath(table), false): Unit }
    else write(fs, table, props)
}

/** A catalog-resolved kv table: the ordinary [[KvCellTable]] surface with
  * the recorded table properties injected as WRITE defaults (a SQL
  * `INSERT INTO` carries no options, so the regions/codec choices made at
  * CREATE must come from the table, not the statement). Explicit
  * per-write options still win.
  *
  * A `salt_buckets` table gets SINK-SIDE SALTING (r13): the catalog
  * injects `saltWrite=<n>`, so plain SQL INSERT / CTAS / INSERT OVERWRITE
  * carry LOGICAL keys and the sink applies the salt per row while
  * demuxing into per-bucket stored-sorted files (the row-level
  * replacement write's writer — [[KvTaskWriter]]). The
  * SQL surface is therefore a logical-key surface on BOTH sides, like
  * Phoenix: reads strip the salt, writes add it, UPDATE/MERGE re-salt
  * their replacements. Pre-salted rows remain the PATH API's contract
  * ([[KvSalt.saltedWrite]] / `saltedInput`) — routing them through SQL
  * INSERT would double-salt.
  */
private[sources] class KvCatalogTable(tableName: String, path: String,
    props: Map[String, String],
    readOptions: Map[String, String] = Map.empty)
    extends KvCellTable(path, readOptions)
    with org.apache.spark.internal.Logging {

  override def name(): String = tableName

  /** Recorded properties surface in DESCRIBE TABLE EXTENDED and SHOW
    * TBLPROPERTIES; the reserved `provider` key makes SHOW CREATE TABLE
    * emit a `USING` clause, so the rendered DDL is re-runnable verbatim
    * (Spark hides reserved keys from SHOW TBLPROPERTIES itself, and
    * [[GraftKvCatalog.createTable]] drops non-recorded keys on the way
    * back in). The value is PRE-BACKQUOTED because Spark renders the
    * provider into the DDL unquoted, and its own parser refuses the
    * bare hyphenated `graft-kv` — without the quotes the emitted DDL
    * would not parse.
    */
  override def properties(): util.Map[String, String] =
    (props + (org.apache.spark.sql.connector.catalog.TableCatalog
      .PROP_PROVIDER -> "`graft-kv`")).asJava

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val merged = new util.HashMap[String, String]()
    props.foreach { case (k, v) =>
      if (k == "regions" || k == "codec") merged.put(k, v)
      // Recorded maintain* values were validated at CREATE/ALTER, so a
      // malformed one here is OUT-OF-BAND property corruption — and
      // maintenance is best-effort housekeeping BY CONTRACT
      // (KvMaintenance doc): sanitize LENIENTLY (warn + skip) at
      // injection so corruption cannot brick the table's INSERT surface,
      // while the write builder stays STRICT for values the caller
      // actually typed on a statement.
      KvMaintenance.Policy.OptionSpelling.get(k).foreach { opt =>
        if (KvTableProps.wellFormedMaintain(k, v)) merged.put(opt, v)
        else logWarning(s"graft-kv catalog: ignoring malformed recorded " +
          s"property $k='$v' on $tableName — maintenance falls back; " +
          "repair it via ALTER TABLE ... SET TBLPROPERTIES")
      }
    }
    // Sink-side salting for catalog writes (class doc). The recorded
    // property is authoritative; a path-registered salt on an ADOPTED
    // table (created by the path API, read by name) is honored too.
    // salt_buckets is LAYOUT, so unlike maintain* a malformed record is
    // NOT shrugged off — writing without the salt would corrupt the
    // table (the builder's saltCheck would not even know to run).
    if (!info.options.containsKey("saltedInput")) {
      val declared = props.get("salt_buckets").map { v =>
        try v.toInt catch {
          case _: NumberFormatException => throw new IllegalStateException(
            s"graft-kv catalog: $tableName records a malformed " +
              s"salt_buckets property '$v' — a LAYOUT property; refusing " +
              "to write until it is repaired")
        }
      }.orElse {
        val p = new Path(path)
        KvSalt.resolveAt(p.getFileSystem(
          org.apache.spark.sql.SparkSession.active.sessionState
            .newHadoopConf()), p, None)
      }
      declared.foreach { n =>
        merged.put("saltWrite", n.toString)
        // attests the value so the builder's agreement guard skips its
        // filesystem re-reads for this (already-resolved) declaration
        merged.put("saltWriteDeclared", n.toString)
      }
    }
    info.options.asCaseSensitiveMap().forEach((k, v) => merged.put(k, v))
    val wrapped = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options: CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(merged)
      override def queryId(): String = info.queryId()
      override def schema(): StructType = info.schema()
      override def rowIdSchema(): java.util.Optional[StructType] = info.rowIdSchema()
      override def metadataSchema(): java.util.Optional[StructType] = info.metadataSchema()
    }
    super.newWriteBuilder(wrapped)
  }
}
