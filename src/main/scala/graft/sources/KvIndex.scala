package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.LwwSlots

/** MAINTAINED GLOBAL SECONDARY INDEXES for `graft-kv` tables — the
  * Phoenix global-index shape (an index IS another HBase table whose row
  * key leads with the indexed value), built Spark-native on the engine's
  * own machinery:
  *
  *  - The index is a full `graft-kv` table at `<table>/_index/<name>`:
  *    index cells are `rowKey = <padded value><NUL><base rowKey>` (the
  *    NUL separator sorts below every other byte, so index-key order is
  *    EXACTLY value order — the reason Phoenix separates with 0x00; a
  *    printable separator like '|' sorts ABOVE alphanumerics and would
  *    silently drop in-range rows at range edges), `qualifier = "k"`,
  *    `value = base rowKey` — a VALUE range scan is a plain index rowKey
  *    range scan (manifest bounds prune regions, the parquet record
  *    filter prunes rows), a value point lookup bloom-prunes, and every
  *    lifecycle verb (compact to fold re-inserted duplicates, vacuum,
  *    snapshot) works on the index unchanged.
  *  - Maintenance is INCREMENTAL over the manifest CDC feed: `refresh`
  *    reads the base span `(indexed seq, latest]` (`sinceSeq`+`asOfSeq` —
  *    the same feed `kv_incremental_pivot` consumes), appends the delta's
  *    index cells (skipping the write entirely for an empty delta, so
  *    maintenance passes over unrelated DML don't grow the index
  *    manifest), and records the new covered seq. Cost is O(changes),
  *    never O(table). A span the log cannot serve — it crosses a
  *    salt-layout declaration ([[KvResalt]]) or dips below the
  *    compaction floor — triggers a REBUILD, staged beside the live
  *    index and swapped in, so a failed rebuild never leaves the table
  *    index-less.
  *  - Correctness does NOT depend on freshness: every read is index
  *    candidates ∪ CDC-tail candidates, verified against the base pinned
  *    at one seq ([[Candidates]] — the candidate-and-verify contract).
  *
  * Values are compared as strings; `pad > 0` declares DECIMAL mode:
  * values are canonical non-negative decimal strings of at most `pad`
  * digits, left-zero-padded in index keys so they order numerically. An
  * over-width OR non-digit value fails the build/refresh/lookup LOUDLY
  * (the typed contract — Spark's `lpad` TRUNCATES long inputs, and a
  * padded non-digit value lands INSIDE numeric ranges; either would
  * return wrong rows with no error). Values containing NUL are refused
  * at build time.
  *
  * Scale shape: the index is a fraction of one column's bytes; refresh
  * is one bounded CDC read + one sorted append; a lookup is two pruned
  * scans, then either at most [[InPushdownCap]] per-key base gets or one
  * left-semi join over the pinned family scan — the one decision
  * [[Candidates]] makes.
  */
object KvIndex {

  val DirName = "_index"

  /** Key separator between padded value and base key (class doc). */
  private val Sep = "\u0000"

  /** The most distinct candidate keys a verification sends back as a
    * pushed `In` filter (per-key bloom-pruned gets); a larger set joins
    * instead — one base family scan, still correct, no driver blow-up.
    * The one In-or-join decision is [[Candidates.inList]].
    */
  val InPushdownCap = 5000

  /** Bound on the cell prefix an index-only top-n fetches
    * ([[topNCovered]]): past it the per-task DESC ring buffers stop
    * being inspection-sized and the pivot sort is the honest plan.
    */
  val MaxTopNFetch: Long = 1L << 20

  /** `covered = true` declares a Phoenix-style COVERED index: maintained
    * EXACTLY (refresh tombstones superseded entries instead of leaving
    * stale debris), carrying the indexed value in a `v` cell and each
    * `include` qualifier's current value in a `q:<qualifier>` cell — so
    * a lookup whose covered seq equals the base's latest seq is served
    * INDEX-ONLY, zero base file opens. A plain (covered = false) index
    * keeps the append-only refresh + read-time verification contract.
    *
    * `rest` declares a COMPOSITE index (the Phoenix multi-column shape):
    * additional key components after the leading `(qualifier, pad)`,
    * each with its own pad. The index key is the NUL-joined padded
    * component values followed by the base key — NUL termination makes
    * the encoding prefix-free, so encoded-key order is EXACTLY
    * component-tuple order even for variable-length string components.
    * An entry exists only for base rows carrying ALL key components
    * (the inner-join semantics a composite key requires); a composite
    * index is ALWAYS covered: building a multi-component entry needs the
    * JOINED current view of its qualifiers, which only the exact wide
    * refresh computes — a single-qualifier append-only delta cannot
    * re-key entries whose OTHER component changed.
    */
  /** `includeOnly` (r19) — the count, AT `asOfSeq`, of PARTIAL base
    * keys: keys carrying some indexed/include qualifier but NOT every
    * key component — exactly the pivot rows the index cannot see (they
    * pivot with a NULL in a sort column). For a single-component covered
    * index this is the include-only-key count; for a composite index,
    * keys missing any key component. Computed exactly by the full build
    * and maintained incrementally by the exact refresh (the touched-key
    * joined frame already holds both sides); `Some(0)` is the O(1)
    * proof that lets BARE top-n serve index-first in both directions
    * ([[topNCovered]] `wide`/[[topNComposite]] docs). None = unknown
    * (shells): the serve guards simply fall back.
    */
  case class Meta(name: String, family: String, qualifier: String,
      pad: Int, asOfSeq: Long, include: Seq[String] = Nil,
      covered: Boolean = false, rest: Seq[(String, Int)] = Nil,
      includeOnly: Option[Long] = None) {
    /** All key components, leading first. */
    def keyQuals: Seq[String] = qualifier +: rest.map(_._1)
    def pads: Seq[Int] = pad +: rest.map(_._2)
    def composite: Boolean = rest.nonEmpty
  }

  sealed trait RefreshResult
  case class Refreshed(fromSeq: Long, toSeq: Long) extends RefreshResult
  case class Fresh(seq: Long) extends RefreshResult
  /** The CDC span was unservable (salt-layout change or compaction
    * floor): the index was rebuilt from the current version.
    */
  case class Rebuilt(toSeq: Long) extends RefreshResult

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9._-]{0,127}".r

  private def requireValidName(name: String): Unit =
    require(NamePattern.pattern.matcher(name).matches(),
      s"graft-kv index: invalid name '$name' (letters, digits, . _ -; " +
        "max 128 chars; must start alphanumeric)")

  private def indexRoot(table: Path) = new Path(table, DirName)
  def indexDir(table: Path, name: String): Path = {
    requireValidName(name)
    new Path(indexRoot(table), name)
  }
  private def metaPathIn(dir: Path) = new Path(dir, "_idxmeta")

  /** Meta replace is ATOMIC (the [[KvTableProps.write]] pattern: staged
    * tmp + replacing atomic move) — a truncating in-place rewrite would
    * let a concurrent lookup read a torn file and throw, where the
    * contract is "always readable".
    */
  private def writeMeta(fs: FileSystem, dir: Path, m: Meta): Unit = {
    val target = metaPathIn(dir)
    val tmp = new Path(dir,
      s"._idxmeta.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val cov =
      if (!m.covered) ""
      else " covered=1" + (if (m.include.nonEmpty)
        s" include=${m.include.mkString(",")}" else "") +
        m.includeOnly.fold("")(n => s" includeOnly=$n")
    // Composite metas comma-join the components into the same tokens a
    // single-component file uses — old files parse unchanged (a lone
    // value splits to a one-element list), new files stay one-line k=v.
    KvLog.writeText(fs, tmp,
      s"v1 family=${m.family} qualifier=${m.keyQuals.mkString(",")} " +
        s"pad=${m.pads.mkString(",")} asOf=${m.asOfSeq}$cov\n")
    if (Option(fs.getUri.getScheme).contains("file")) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      fs.delete(target, false)
      require(fs.rename(tmp, target),
        s"graft-kv index: publishing $tmp over $target failed — re-run " +
          "the operation")
    }
  }

  private def metaIn(fs: FileSystem, dir: Path, name: String): Option[Meta] = {
    val text = try Some(KvLog.readText(fs, metaPathIn(dir))) catch {
      case _: java.io.FileNotFoundException => None
    }
    text.map { t =>
      val toks = t.trim.split("\\s+")
      require(toks.headOption.contains("v1"),
        s"graft-kv index: unknown meta version for '$name'")
      def tokOpt(k: String): Option[String] = toks.collectFirst {
        case s if s.startsWith(s"$k=") => s.stripPrefix(s"$k=")
      }
      def tok(k: String): String = tokOpt(k).getOrElse(
        throw new IllegalStateException(
          s"graft-kv index: meta for '$name' lacks $k"))
      val quals = tok("qualifier").split(",").toSeq.filter(_.nonEmpty)
      val pads = tok("pad").split(",").toSeq.map(_.toInt)
      require(quals.nonEmpty && quals.length == pads.length,
        s"graft-kv index: meta for '$name' has ${quals.length} qualifiers " +
          s"but ${pads.length} pads — corrupted metadata")
      Meta(name, tok("family"), quals.head, pads.head,
        tok("asOf").toLong,
        include = tokOpt("include").toSeq
          .flatMap(_.split(",")).filter(_.nonEmpty),
        covered = tokOpt("covered").contains("1"),
        rest = quals.tail.zip(pads.tail),
        includeOnly = tokOpt("includeOnly").map(_.toLong))
    }
  }

  def meta(fs: FileSystem, table: Path, name: String): Option[Meta] =
    metaIn(fs, indexDir(table, name), name)

  /** All indexes on the table (empty when none). Staged rebuild dirs
    * (dot-prefixed) are invisible here.
    */
  def list(fs: FileSystem, table: Path): Seq[Meta] = {
    val root = indexRoot(table)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith(".")).sorted
      .flatMap(meta(fs, table, _))
  }

  /** Re-create the index as an EMPTY SHELL covering nothing (covered seq
    * -1) — the truncate-table contract: a truncating overwrite resets the
    * data, but the index DEFINITION is catalog metadata and survives like
    * the table properties do. The shell is immediately correct: a lookup's
    * CDC tail spans `(-1, latest]` (the whole new table) and verification
    * does the rest; the next maintenance refresh absorbs the new contents
    * incrementally, which for a shell IS the rebuild.
    */
  private[sources] def preserveShell(fs: FileSystem, table: Path,
      m: Meta): Unit = {
    val dir = indexDir(table, m.name)
    fs.delete(dir, true): Unit
    fs.mkdirs(dir)
    KvLog.ensureLogDir(fs, dir) // an empty log replays as an empty table
    writeMeta(fs, dir, m.copy(asOfSeq = -1L, includeOnly = None))
  }

  /** Delete the index. Returns false when it didn't exist. */
  def drop(spark: SparkSession, path: String, name: String): Boolean = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(indexDir(table, name), true)
  }

  /** The padded index-key prefix of one value column. */
  private def paddedValue(v: org.apache.spark.sql.Column, pad: Int) =
    if (pad > 0) lpad(v, pad, "0") else v

  /** Decimal-mode value guard as a column: over-width values RAISE (a
    * silently truncating `lpad` would corrupt both index keys and the
    * verification filter — wrong rows, no error), and NON-DIGIT values
    * RAISE too — decimal mode declares values are canonical non-negative
    * decimal strings, and a non-digit value does NOT sort safely outside
    * every padded range (pad=3 pads 'ab' to '0ab', INSIDE ['000','999')),
    * so admitting one would return non-numeric rows from a numeric range
    * in an order that diverges from a CAST-based reading of the query.
    */
  private def guardedValue(v: org.apache.spark.sql.Column, pad: Int) =
    if (pad <= 0) v
    else when(length(v) > pad,
      raise_error(concat(lit("graft-kv index: value '"), v,
        lit(s"' exceeds the index's declared decimal width pad=$pad — " +
          "recreate the index with a larger pad"))))
      .when(length(v) === 0 || length(translate(v, "0123456789", "")) > 0,
        raise_error(concat(lit("graft-kv index: value '"), v,
          lit("' is not a non-negative decimal string — a decimal-mode " +
            "(pad > 0) index requires all-digit values; use a string " +
            "index (pad = 0) for this column. If this error arose from " +
            "an automatically routed SQL query (where an unrouted CAST " +
            "would have nulled the row), bypass routing for the session " +
            s"with SET ${KvIndexRouting.EnabledKey}=false"))))
      .otherwise(v)

  /** Base cells → index cells. NUL-in-value and (decimal mode)
    * over-width checks run per row inside the build/refresh job — either
    * would corrupt range semantics silently, so they fail the statement.
    */
  private def indexCells(base: DataFrame, m: Meta): DataFrame = {
    val v = decode(col("value"), "UTF-8")
    val checked = when(v.contains(Sep),
      raise_error(lit("graft-kv index: indexed value contains NUL (the " +
        "key separator) — unsupported for a string-ordered index")))
      .otherwise(guardedValue(v, m.pad))
    base.select(
      concat(paddedValue(checked, m.pad), lit(Sep), col("rowKey")).as("rowKey"),
      lit("i").as("family"),
      lit("k").as("qualifier"),
      encode(col("rowKey"), "UTF-8").as("value"),
      col("ts").as("ts"))
  }

  /** Manifest-stat upper bound on a span's raw feed rows: per-entry
    * recorded row counts of the adds (drop files for compact entries) —
    * an a-priori bound on the touched-key count that lets both the
    * stale top-n probe and the exact refresh skip the distinct SHUFFLE
    * for small spans. Stat-less legacy files price as huge, so the
    * bound only ever errs toward the safe (shuffling) path. Takes the
    * span's ENTRIES (from [[servableSpan]]) so callers never replay the
    * log reads the servability probe already paid.
    */
  private def spanRowBound(entries: Seq[KvLog.Entry]): Double =
    entries.iterator.flatMap { e =>
      val names = if (e.compact) e.dropFiles else e.adds
      names.iterator.map(n =>
        e.stats.get(n).fold(Double.MaxValue / 1024)(_.rows.toDouble))
    }.sum

  // ------------------------------------------ candidate-and-verify core

  /** One resolved index call: the base table, its file system, the index
    * meta and the base seq `latest` the whole call is pinned to — tail
    * span, touched keys and every verification re-read end at it, so the
    * answer is snapshot-consistent as of one version even under
    * concurrent commits.
    */
  private case class Target(path: String, table: Path, fs: FileSystem,
      m: Meta, latest: Long) {
    def fresh: Boolean = latest <= m.asOfSeq
    def dir: Path = indexDir(table, m.name)
    def pinned: Map[String, String] = Map("asOfSeq" -> latest.toString)
    /** The stale span's log entries, None when the log cannot serve it
      * ([[servableSpan]]).
      */
    lazy val span: Option[Seq[KvLog.Entry]] =
      servableSpan(fs, table, m.asOfSeq, latest)
    /** The span's raw change feed `(m.asOfSeq, latest]`, markers included. */
    def feed(spark: SparkSession): DataFrame = spark.read.format("graft-kv")
      .option("sinceSeq", m.asOfSeq.toString)
      .option("asOfSeq", latest.toString).load(path)
  }

  /** Resolve index `name` on `path` and pin the base's latest seq. `heal`
    * restores a crashed rebuild swap before concluding "no index".
    */
  private def resolve(spark: SparkSession, path: String, name: String,
      heal: Boolean = false): Target = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val m = meta(fs, table, name).orElse {
      if (heal && recoverOrphans(fs, table) > 0) meta(fs, table, name) else None
    }.getOrElse(throw new IllegalArgumentException(
      s"graft-kv index: no index '$name' on $path"))
    Target(path, table, fs, m, KvLog.latestSeq(fs, table))
  }

  /** CANDIDATE-AND-VERIFY — the one contract under every index read and
    * the exact refresh. An index may be STALE: updated rows leave
    * old-value entries behind, deletes leave entries for masked rows, and
    * the CDC span `(covered seq, latest]` holds changes it has not
    * absorbed yet (bounded by maintenance lag). So a read never trusts an
    * entry. It
    *  1. collects CANDIDATE base keys — the index head (the entries in
    *     the bounds, or the top `k + T` for a top-n) ∪ the span's tail
    *     (its in-range cells, or every key it touched) — into `keys`;
    *  2. VERIFIES them ([[verify]]): re-reads the candidates from the
    *     base PINNED at the call's one `latest` seq ([[Target]]) and
    *     recomputes the answer from their current last-write-wins values.
    * Stale entries can only add false candidates, never wrong rows — the
    * non-transactional-index contract Phoenix documents, made safe by
    * verification instead of a synchronous write path. A span the log
    * cannot serve verifies over the whole pinned frame instead (no
    * Candidates): slower, never wrong; the next refresh rebuilds.
    *
    * The In-or-join decision is made here, once per candidate set
    * ([[inList]]): at most `cap` distinct keys go back as a pushed `In`
    * (per-key bloom-pruned gets, the point-lookup shape); a larger set
    * verifies through one left-semi join over the pinned scan (still
    * correct — the index then only saved the driver the value filter, the
    * honest cost of a low-selectivity read). A known a-priori `bound` on
    * the rows of `keys` decides without looking, and a set within it is
    * collected whole, never truncated. Without one, a truncating
    * `limit(cap + 1)` probe decides — a plain limit, no shuffle, so
    * duplicate keys count against the cap; the `In` list dedupes
    * driver-side and the join by construction, and the join path
    * re-evaluates only the truncated prefix the probe already read.
    */
  private case class Candidates(keys: DataFrame, bound: Option[Long],
      cap: Int = InPushdownCap) {
    /** The distinct keys when they fit `cap` (verify by `In`), None when
      * verification joins.
      */
    lazy val inList: Option[Array[String]] = (bound match {
      case Some(b) => if (b <= cap) Some(keys.collect()) else None
      case None => Some(keys.limit(cap + 1).collect()).filter(_.length <= cap)
    }).map(_.map(_.getString(0)).distinct)
  }

  /** The rows of `cells` whose `rowKey` is a candidate ([[Candidates]]);
    * None verifies over the whole pinned frame. No candidates is the
    * empty frame with `cells`' schema: the optimizer folds the read away.
    */
  private def verify(cells: DataFrame, c: Option[Candidates]): DataFrame =
    c.fold(cells)(c => c.inList match {
      case Some(keys) if keys.isEmpty => cells.filter(lit(false))
      case Some(keys) => cells.filter(col("rowKey").isin(keys.toIndexedSeq: _*))
      case None => cells.join(c.keys, Seq("rowKey"), "left_semi")
    })

  /** The span's touched base keys as [[Candidates]] — the one probe the
    * stale top-n and the exact refresh share. When the manifest-stat row
    * bound `spanRows` ([[spanRowBound]]) already proves the raw feed fits
    * the cap, its keys collect and dedupe driver-side with ZERO exchanges
    * — the common small span pays one feed scan. Bigger spans dedupe
    * first, so a key's many versions count once against the cap.
    */
  private def touchedKeys(feedKeys: DataFrame, spanRows: Double): Candidates =
    if (spanRows <= InPushdownCap) Candidates(feedKeys, Some(spanRows.toLong))
    else Candidates(feedKeys.distinct(), None)

  /** Base reads go through the CATALOG-RESOLVED path ([[KvRead]]): same
    * rows and pushdown, plus a resolvable region function — a certified
    * table's per-key aggregates (currentWide, the verification LWW) plan
    * WITHOUT an exchange, and the over-cap verification join can shuffle
    * only the candidate side to the base's layout
    * (`spark.sql.sources.v2.bucketing.shuffle.enabled`) instead of
    * moving the table.
    */
  private def baseCells(spark: SparkSession, path: String, m: Meta,
      options: Map[String, String]): DataFrame =
    KvRead.cells(spark, path, options)
      .filter(col("family") === m.family && col("qualifier") === m.qualifier)

  /** Stage one full build of `m` over base version `m.asOfSeq` into
    * `dir` (data + meta).
    */
  private def buildAt(spark: SparkSession, path: String, m: Meta,
      dir: Path, regions: Int): Unit = {
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val cells =
      if (m.covered)
        // EXACT build: the current (LWW, delete-masked) view at the
        // covered seq — a covered index must hold exactly one entry per
        // current base row (old versions would be unverifiable debris on
        // the index-only path). Entry ts = the covered seq (see
        // refreshExactCovered for why seqs, not base timestamps).
        indexCellsCovered(
          currentWide(spark, path, m, Map("asOfSeq" -> m.asOfSeq.toString)),
          m, tsSeq = m.asOfSeq)
      else indexCells(
        baseCells(spark, path, m, Map("asOfSeq" -> m.asOfSeq.toString)), m)
    cells.write.format("graft-kv").option("regions", regions)
      .mode("overwrite").save(dir.toString)
    // includeOnly stat ([[Meta]] doc): the full build already scanned the
    // relevant cells — one more count over the unfiltered wide frame
    // makes bare top-n provable at serve time.
    val withStat =
      if (m.covered && (m.include.nonEmpty || m.composite))
        m.copy(includeOnly = Some(
          currentWideAny(spark, path, m, Map("asOfSeq" -> m.asOfSeq.toString))
            .filter(!m.keyQuals.indices.map(i => col(s"_v$i").isNotNull)
              .reduce(_ && _)).count()))
      else m
    writeMeta(fs, dir, withStat)
  }

  /** Build the index over the CURRENT table version. `pad > 0` declares
    * decimal mode (class doc); 0 = raw string order. `covered = true`
    * (implied by a non-empty `include`) builds a covered index
    * ([[Meta]] doc): `include` lists the additional qualifiers whose
    * current values ride the index entries. `rest` lists additional
    * (qualifier, pad) KEY components after the leading one — a COMPOSITE
    * index ([[Meta]] doc), always covered.
    */
  def create(spark: SparkSession, path: String, name: String,
      family: String, qualifier: String, pad: Int = 0,
      regions: Int = 4, include: Seq[String] = Nil,
      covered: Boolean = false, rest: Seq[(String, Int)] = Nil): Meta = {
    requireValidName(name)
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    require(KvLog.exists(fs, table),
      s"graft-kv index: $path has no manifest log (write through the " +
        "graft-kv sink first)")
    require(meta(fs, table, name).isEmpty,
      s"graft-kv index: '$name' already exists on $path (drop it first)")
    (pad +: rest.map(_._2)).foreach(p => require(p >= 0 && p <= 256,
      s"graft-kv index: pad must be in [0, 256], got $p"))
    // The meta file is whitespace-separated k=v tokens: a family or
    // qualifier containing whitespace (or '=') would round-trip CORRUPTED
    // and every later refresh/lookup would filter on the wrong column —
    // silently empty results. Refuse at create. Include and composite
    // names also ride comma-separated tokens and index cells as
    // `q:<name>` qualifiers.
    (Seq("family" -> family, "qualifier" -> qualifier) ++
      rest.map("composite qualifier" -> _._1) ++
      include.map("include qualifier" -> _)).foreach {
      case (which, v) =>
        require(v.nonEmpty && !v.exists(c => c.isWhitespace || c == '=' ||
          c == ','),
          s"graft-kv index: $which '$v' contains whitespace, '=' or ',' — " +
            "unsupported in the index metadata encoding")
    }
    val keyQuals = qualifier +: rest.map(_._1)
    require(keyQuals.distinct.length == keyQuals.length,
      s"graft-kv index: duplicate key component in ${keyQuals.mkString(", ")}")
    include.intersect(keyQuals).foreach(q => require(false,
      s"graft-kv index: '$q' is a key component — it is always covered; " +
        "do not list it in include"))
    // Pin the covered version BEFORE reading, so concurrent appends land
    // ABOVE the recorded seq and the first refresh (or the lookup tail)
    // picks them up — never silently skipped.
    val latest = KvLog.latestSeq(fs, table)
    require(latest >= 0, s"graft-kv index: $path is empty — nothing to index")
    val m = Meta(name, family, qualifier, pad, latest,
      include = include,
      covered = covered || include.nonEmpty || rest.nonEmpty, rest = rest)
    val dir = indexDir(table, name)
    fs.delete(dir, true) // a torn previous create (no meta) is replaced
    buildAt(spark, path, m, dir, regions)
    m
  }

  // ------------------------------------------------- covered-index engine

  /** The relevant qualifiers' CURRENT values per base key as one wide
    * row: `rowKey, _v0.. (key components in order), then includes` —
    * binary values, null where the key has no such qualifier. The same
    * LWW pivot [[graft.ops.KvPivot.pivot]] uses ([[LwwSlots]]:
    * hash-aggregable, one exchange); delete masking and time travel
    * ride the scan options. Rows lacking ANY key component are dropped —
    * a composite entry is the inner join of its components ([[Meta]]
    * doc); for a single-component index this is the old "rows without
    * the indexed qualifier" filter.
    */
  private def currentWide(spark: SparkSession, path: String, m: Meta,
      options: Map[String, String]): DataFrame =
    currentWideAny(spark, path, m, options)
      .filter(m.keyQuals.indices.map(i => col(s"_v$i").isNotNull)
        .reduce(_ && _))

  /** [[currentWide]] WITHOUT the key-component filter: every base key
    * carrying ANY of the index's qualifiers, null components included —
    * the frame the `includeOnly` stat counts on ([[Meta]] doc) and the
    * exact refresh joins on when it maintains that stat.
    */
  private def currentWideAny(spark: SparkSession, path: String, m: Meta,
      options: Map[String, String]): DataFrame = {
    val quals = m.keyQuals ++ m.include
    LwwSlots.byRowKey(
      KvRead.cells(spark, path, options) // catalog-resolved: baseCells doc
        .filter(col("family") === m.family && col("qualifier").isin(quals: _*)),
      quals.zipWithIndex.map { case (q, i) => (q, s"_v$i") })
  }

  /** The `(qualifier, column)` pairs of an index entry's cells: `k` (base
    * key) as `_k`, `v` (leading value) as `_v`, then `q:<qual>` as
    * `_q<qual>` per payload qualifier.
    */
  private def entryColumns(payload: Seq[String]): Seq[(String, String)] =
    ("k", "_k") +: ("v", "_v") +: payload.map(q => (s"q:$q", s"_q$q"))

  /** One component column, NUL-refused and (decimal mode) guarded. */
  private def checkedComponent(raw: org.apache.spark.sql.Column,
      pad: Int): org.apache.spark.sql.Column = {
    val v = decode(raw, "UTF-8")
    when(v.contains(Sep),
      raise_error(lit("graft-kv index: indexed value contains NUL (the " +
        "key separator) — unsupported for a string-ordered index")))
      .otherwise(guardedValue(v, pad))
  }

  /** The entry key from binary component columns: NUL-joined padded
    * component values, NUL, base key ([[Meta]] doc — the prefix-free
    * composite encoding).
    */
  private def entryKeyOf(m: Meta,
      comps: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    val parts = comps.zip(m.pads).map { case (c, p) =>
      paddedValue(checkedComponent(c, p), p)
    }
    concat(parts.flatMap(p => Seq(p, lit(Sep))) :+ col("rowKey"): _*)
  }

  /** One wide current row → this entry's index cells: `k` (base key),
    * `v` (leading component value), one `q:<qualifier>` per non-leading
    * key component and per present include value — all at ts = `tsSeq`.
    * SEQ-VALUED TIMESTAMPS are what make the exact
    * delete-then-re-add lifecycle monotone: a refresh to seq L writes
    * adds at ts=L and masks superseded entries with markers at ts=S (the
    * span start), so re-added entries always out-ts every older marker
    * regardless of how base timestamps move (a base whose ts stands
    * still across updates would otherwise mask its own re-adds).
    */
  private def indexCellsCovered(wide: DataFrame, m: Meta,
      tsSeq: Long): DataFrame = {
    val k = m.keyQuals.length
    val withKey = wide.withColumn("_ik",
      entryKeyOf(m, m.keyQuals.indices.map(i => col(s"_v$i"))))
    def cell(q: String, value: org.apache.spark.sql.Column) =
      withKey.filter(value.isNotNull).select(
        col("_ik").as("rowKey"), lit("i").as("family"),
        lit(q).as("qualifier"), value.as("value"),
        lit(tsSeq).as("ts"))
    val parts =
      cell("k", encode(col("rowKey"), "UTF-8")) +:
        cell("v", col("_v0")) +:
        (m.rest.map(_._1).zipWithIndex.map { case (q, i) =>
          cell(s"q:$q", col(s"_v${i + 1}"))
        } ++
          m.include.zipWithIndex.map { case (q, i) =>
            cell(s"q:$q", col(s"_v${k + i}"))
          })
    parts.reduce(_ unionByName _)
  }

  /** The EXACT incremental refresh for covered indexes: the span's
    * change feed names the touched keys; their pre-image (current view
    * at the covered seq) and post-image (at `latest`) diff into
    * tombstones for superseded entries + adds for new ones — so the
    * index holds exactly one entry per current base row at every covered
    * seq, the invariant the index-only read path rests on. Cost is
    * O(changed keys): bounded pre/post re-reads (pushed In →
    * bloom-pruned gets below the cap, semi join above), one marker
    * commit, one add commit. Accumulated markers compact away
    * opportunistically once they outnumber a quarter of the index.
    */
  private def refreshExactCovered(spark: SparkSession, t: Target,
      spanBound: Double): RefreshResult = {
    val (path, m, latest, dir, fs) = (t.path, t.m, t.latest, t.dir, t.fs)
    val quals = m.keyQuals ++ m.include
    val n = quals.length
    // The raw change feed ships markers too — a row/column delete is a
    // change the index must absorb as a tombstone. `spanBound` was priced
    // once by the caller's servability probe.
    val feed = t.feed(spark).filter(
      (col("family") === m.family && col("qualifier").isin(quals: _*)) ||
        col("qualifier").startsWith(KvDelete.MarkerPrefix))
    val touched = touchedKeys(feed.select(col("rowKey")), spanBound)
    if (touched.inList.exists(_.isEmpty)) {
      writeMeta(fs, dir, m.copy(asOfSeq = latest))
      return Refreshed(m.asOfSeq, latest)
    }
    val small = touched.inList.isDefined
    def restrict(df: DataFrame): DataFrame = verify(df, Some(touched))
    // Stat-tracking indexes ([[Meta.includeOnly]]) maintain the partial-
    // key count, so their pre/post frames keep PARTIAL keys (some key
    // component null) — dead/fresh below gate on full-row conjunctions,
    // which reduce to exactly what the filtered frame guaranteed by
    // construction for non-tracking shapes.
    val trackPartial = m.include.nonEmpty || m.composite
    def wideOf(opts: Map[String, String]): DataFrame =
      if (trackPartial) currentWideAny(spark, path, m, opts)
      else currentWide(spark, path, m, opts)
    val pre = restrict(wideOf(Map("asOfSeq" -> m.asOfSeq.toString)))
    val post = restrict(wideOf(t.pinned))
    val preR = pre.select(col("rowKey") +:
      (0 until n).map(i => col(s"_v$i").as(s"_p$i")): _*)
    val joined0 = preR.join(post, Seq("rowKey"), "full_outer")
    if (small) {
      // SMALL-SPAN FAST PATH (r20, verdict #2): the joined diff frame is
      // bounded A PRIORI by the touched-key count (its join keys are a
      // subset of `touched.inList`, itself ≤ InPushdownCap) — so it
      // collects driver-side in ONE job: the pre and post table passes
      // run exactly once, and classification (dead / fresh / the
      // includeOnly delta) happens on local rows instead of as four more
      // Spark jobs over a cached join. The dead markers and fresh adds
      // then commit as ONE atomic append — no masked-without-re-add
      // window between two commits, one write job instead of two. Entry
      // encoding still flows through entryKeyOf / indexCellsCovered over
      // local frames: single source of truth, NUL guards included.
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
      val rows = joined0.collect()
      val sch = joined0.schema
      val iKey = sch.fieldIndex("rowKey")
      val iP = (0 until n).map(i => sch.fieldIndex(s"_p$i")).toArray
      val iV = (0 until n).map(i => sch.fieldIndex(s"_v$i")).toArray
      def ba(r: Row, i: Int): Array[Byte] =
        if (r.isNullAt(i)) null else r.getAs[Array[Byte]](i)
      val kN = m.keyQuals.length
      // Entry existence = ALL key components present on that side (the
      // distributed path's preFull/postFull conjunctions): for a
      // non-tracking frame the restrict already guaranteed it; for a
      // tracking frame (currentWideAny, partial rows present) it is
      // load-bearing — a partial row produces neither tombstone nor
      // entry. Value equality is byte equality, like Spark's binary <=>.
      def fullAt(r: Row, idx: Array[Int]): Boolean =
        (0 until kN).forall(j => !r.isNullAt(idx(j)))
      def anyAt(r: Row, idx: Array[Int]): Boolean =
        (0 until n).exists(j => !r.isNullAt(idx(j)))
      def changedAt(r: Row): Boolean = (0 until n).exists(j =>
        !java.util.Arrays.equals(ba(r, iP(j)), ba(r, iV(j))))
      val dead = rows.filter(r =>
        fullAt(r, iP) && (!fullAt(r, iV) || changedAt(r)))
      val fresh = rows.filter(r =>
        fullAt(r, iV) && (!fullAt(r, iP) || changedAt(r)))
      import scala.jdk.CollectionConverters._
      // Superseded entries → row markers at ts = the span-start seq
      // (doc above): the frame comes from KvDelete.rowMarkerFrame — the
      // ONE marker definition deleteRows commits, salting included — so
      // fusing it with the adds into a single append cannot drift from
      // a direct deleteRows commit.
      val markers = if (dead.isEmpty) None else {
        val preSchema = StructType(StructField("rowKey", StringType) +:
          (0 until n).map(i => StructField(s"_p$i", BinaryType)))
        Some(KvDelete.rowMarkerFrame(spark, dir.toString,
          spark.createDataFrame(
            dead.map(r => Row.fromSeq(
              r.getString(iKey) +: iP.toSeq.map(ba(r, _)))).toSeq.asJava,
            preSchema)
            .select(entryKeyOf(m,
              m.keyQuals.indices.map(i => col(s"_p$i"))).as("rowKey"),
              lit(m.asOfSeq).as("ts"))))
      }
      val adds = if (fresh.isEmpty) None else {
        val freshSchema = StructType(StructField("rowKey", StringType) +:
          (0 until n).map(i => StructField(s"_v$i", BinaryType)))
        Some(indexCellsCovered(spark.createDataFrame(
          fresh.map(r => Row.fromSeq(
            r.getString(iKey) +: iV.toSeq.map(ba(r, _)))).toSeq.asJava,
          freshSchema), m, tsSeq = latest))
      }
      (markers ++ adds).reduceOption(_ unionByName _).foreach(
        _.write.format("graft-kv").option("allowTombstones", "true")
          .mode("append").save(dir.toString))
      // includeOnly delta over the same collected rows (doc on the
      // distributed branch below): new = old - partial(pre) +
      // partial(post) among the touched keys; None propagates.
      val newStat =
        if (!trackPartial) m.includeOnly
        else m.includeOnly.map { old =>
          old - rows.count(r => !fullAt(r, iP) && anyAt(r, iP)) +
            rows.count(r => !fullAt(r, iV) && anyAt(r, iV))
        }
      writeMeta(fs, dir, m.copy(asOfSeq = latest, includeOnly = newStat))
    } else {
    // DISTRIBUTED PATH (touched set past the cap): cached under stat
    // tracking — dead, fresh, and the two stat counts all consume the
    // join.
    val joined = if (trackPartial) joined0.cache() else joined0
    val changed = (0 until n)
      .map(i => !(col(s"_p$i") <=> col(s"_v$i"))).reduce(_ || _)
    // Entry existence = ALL key components present on that side: for a
    // non-tracking frame (currentWide) the filter already guaranteed it
    // (so this reduces to the old `_p0`/`_v0` probe); for a tracking
    // frame (currentWideAny, partial rows present) the conjunction is
    // load-bearing — a partial row must produce neither a tombstone nor
    // an entry.
    val preFull = m.keyQuals.indices
      .map(i => col(s"_p$i").isNotNull).reduce(_ && _)
    val postFull = m.keyQuals.indices
      .map(i => col(s"_v$i").isNotNull).reduce(_ && _)
    // Superseded entries: the pre-image had an entry and the row changed
    // (or vanished — incl. a row that LOST a key component).
    // Marker ts = the span-start seq (doc above).
    val dead = joined
      .filter(preFull && (!postFull || changed))
      .select(entryKeyOf(m,
        m.keyQuals.indices.map(i => col(s"_p$i"))).as("rowKey"),
        lit(m.asOfSeq).as("ts"))
    val deadRows = dead.cache()
    try {
      if (!deadRows.isEmpty)
        KvDelete.deleteRows(spark, dir.toString, deadRows)
      val fresh = joined
        .filter(postFull && (!preFull || changed))
        .select(col("rowKey") +:
          (0 until n).map(i => col(s"_v$i")): _*)
      val adds = indexCellsCovered(fresh, m, tsSeq = latest).cache()
      try {
        if (!adds.isEmpty)
          adds.write.format("graft-kv").mode("append").save(dir.toString)
      } finally adds.unpersist(): Unit
      // includeOnly delta over the SAME touched-key joined frame: the
      // untouched population cannot have changed, so
      // new = old - (include-only among touched, pre) + (…, post).
      // None (a shell) propagates — the serve guards keep falling
      // back until a full build re-bases the stat.
      val newStat =
        if (!trackPartial) m.includeOnly
        else m.includeOnly.map { old =>
          // partial on a side = present (any column) but not full there
          val anyP = (0 until n).map(i => col(s"_p$i").isNotNull)
            .reduce(_ || _)
          val anyV = (0 until n).map(i => col(s"_v$i").isNotNull)
            .reduce(_ || _)
          old - joined.filter(!preFull && anyP).count() +
            joined.filter(!postFull && anyV).count()
        }
      writeMeta(fs, dir, m.copy(asOfSeq = latest, includeOnly = newStat))
    } finally {
      deadRows.unpersist(): Unit
      if (trackPartial) joined.unpersist(): Unit
    }
    }
    // Marker hygiene: tombstones accumulate one per superseded entry;
    // compact the INDEX once they outnumber a quarter of its rows (or
    // the absolute floor), purging masked entries and markers together.
    val index = KvLog.live(fs, dir)
    val stats = index.stats.values
    val tombs = stats.map(_.tombstones).sum
    val rows = stats.map(_.rows).sum
    if (tombs > math.max(4096L, rows / 4))
      KvCompactor.compact(spark, dir.toString,
        regions = math.max(1, index.files.size)): Unit
    Refreshed(m.asOfSeq, latest)
  }

  /** The base span `(since, latest]`'s log ENTRIES when the log can serve
    * it as a CDC read (so callers price it via [[spanRowBound]] without a
    * second log replay), None when it cannot: it crosses a salt
    * declaration the scan refuses (same boundary rule — a declaration at
    * exactly `since + 1` has nothing below it and passes), or it dips
    * below the compaction floor (the merged-away segments' change sets
    * are not reconstructible — `KvLog.changes` throws on the same
    * condition). Retention entries serve incrementally: the feed ships
    * the drops as exact-version markers, the touched-key probe sees their
    * rowKeys, and the post-image re-read at `latest` reflects the
    * post-retention state — refresh stays O(changes) across a retention
    * pass. Probed EAGERLY because the scan's refusals only fire at plan
    * time, far from the decision points here.
    */
  private def servableSpan(fs: FileSystem, table: Path, since: Long,
      latest: Long): Option[Seq[KvLog.Entry]] = {
    if (since + 1 < KvLog.floor(fs, table)) return None
    if (KvSalt.declsIn(fs, table, since, latest).exists(_._1 != since + 1))
      return None
    val entries = (since + 1 to latest).flatMap(KvLog.read(fs, table, _))
    // PRE-IMAGE SURVIVAL: when the span CARRIES CONTENT (appends, or a
    // retention pass's drop records), the exact incremental diff
    // time-travels to `since` for the touched keys' pre-image — and a
    // compaction inside the span moved that version's files to
    // pending-removal, so a vacuum past its grace may have reclaimed
    // them and the incremental jobs would fail mid-read. Probe existence
    // up front (O(files at `since`) driver stats, content-carrying
    // compact-crossing spans only — the maintenance loop refreshes
    // BEFORE compacting, so its compacting pass leaves an EMPTY span
    // that shortcuts at the touched-key probe and never reads images)
    // and fall back to the rebuild, which reads only the current live
    // set.
    val carries = entries.exists(e =>
      if (e.compact) e.dropFiles.nonEmpty else e.adds.nonEmpty)
    val preImageLost = carries && entries.exists(_.compact) && !(try {
      KvLog.live(fs, table, Some(since)).names
        .forall(n => fs.exists(new Path(table, n)))
    } catch {
      // live itself validates reconstructibility and throws once
      // vacuum reclaimed the version's segments — same verdict.
      case _: IllegalStateException => false
    })
    if (preImageLost) None else Some(entries)
  }

  /** Crash recovery for the rebuild swap: a crash between the two swap
    * renames leaves the live index parked at dot-prefixed
    * `.old-<name>-<tok>` — invisible to [[list]], so the index would be
    * SILENTLY DROPPED (maintenance can't retry it, lookups throw "no
    * index"). Restore any orphaned `.old-` dir whose live slot is absent.
    * Run by [[refresh]] (so the next maintenance pass self-heals) and by
    * the vacuum pass. Returns the number restored. The rebuild tok is 8
    * hex chars, so the name parses unambiguously even though index names
    * may themselves contain '-'.
    */
  private[sources] def recoverOrphans(fs: FileSystem, table: Path): Int = {
    val root = indexRoot(table)
    val olds = try {
      fs.listStatus(root).toSeq.filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.startsWith(".old-"))
    } catch { case _: java.io.FileNotFoundException => return 0 }
    olds.count { p =>
      val stem = p.getName.stripPrefix(".old-")
      // `<name>-<8 hex>`: split on the fixed-width suffix.
      val ok = stem.length > 9 && stem.charAt(stem.length - 9) == '-' &&
        stem.takeRight(8).forall(c => c.isDigit || (c >= 'a' && c <= 'f'))
      ok && {
        val name = stem.dropRight(9)
        val live = new Path(root, name)
        // Only a parked dir WITH meta is a real index; and only when the
        // live slot is genuinely gone (a live dir present means the swap
        // completed or was restored — the .old dir is then GC debris).
        !fs.exists(live) && metaIn(fs, p, name).isDefined &&
          fs.rename(p, live)
      }
    }
  }

  /** Is this aged `.old-*` dir safe for vacuum to reclaim? A parked dir
    * that carries index meta while its live slot is ABSENT is the only
    * copy of a live index (a recoverOrphans restore that failed, e.g. a
    * transient rename error) — deleting it would be the exact silent
    * drop recoverOrphans exists to prevent, so vacuum must skip it and
    * let a later recovery pass restore it first.
    */
  private[sources] def oldDirSafeToReclaim(fs: FileSystem, table: Path,
      dirName: String): Boolean = {
    val stem = dirName.stripPrefix(".old-")
    val parses = stem.length > 9 && stem.charAt(stem.length - 9) == '-' &&
      stem.takeRight(8).forall(c => c.isDigit || (c >= 'a' && c <= 'f'))
    if (!parses) return true // not an index park — plain debris
    val name = stem.dropRight(9)
    val root = indexRoot(table)
    val parked = new Path(root, dirName)
    // No meta → not a real index (partial copy, abandoned staging).
    // Meta present → only reclaimable once the live slot exists again.
    metaIn(fs, parked, name).isEmpty || fs.exists(new Path(root, name))
  }

  /** Absorb the base span `(m.asOfSeq, latest]` into the index. */
  def refresh(spark: SparkSession, path: String, name: String): RefreshResult = {
    val t = resolve(spark, path, name, heal = true)
    val (table, fs, m, latest, dir) = (t.table, t.fs, t.m, t.latest, t.dir)
    if (t.fresh) return Fresh(m.asOfSeq)
    if (t.span.isEmpty) {
      // Rebuild, STAGED BESIDE the live index and swapped in: a rebuild
      // that dies mid-build must leave the old index serving (lookups
      // degrade to the full-scan tail — they must not start throwing
      // "no index"), and the maintenance pass must still see the index
      // to retry the rebuild next round.
      val regions = math.max(1, KvLog.liveFiles(fs, dir).size)
      val m2 = m.copy(asOfSeq = latest)
      val tok = java.util.UUID.randomUUID().toString.take(8)
      val staged = new Path(indexRoot(table), s".rebuild-$name-$tok")
      // Swap order matters: the OLD index moves ASIDE (not deleted)
      // before the staged copy moves in, and a failed second rename
      // RESTORES it — delete-then-rename would leave the table
      // index-less on any failure between the two, with the maintenance
      // pass blind to the loss (list() no longer sees the index). The
      // residual crash window is the one rename, not the build.
      val aside = new Path(indexRoot(table), s".old-$name-$tok")
      try {
        buildAt(spark, path, m2, staged, regions)
        if (!fs.rename(dir, aside)) throw new IllegalStateException(
          s"graft-kv index: rebuild could not move the live index aside " +
            s"($dir -> $aside); the live index is untouched")
        if (!fs.rename(staged, dir)) {
          fs.rename(aside, dir) // restore the live index
          throw new IllegalStateException(
            s"graft-kv index: rebuild swap rename $staged -> $dir " +
              "failed; the previous index was restored")
        }
        fs.delete(aside, true): Unit
      } finally {
        fs.delete(staged, true): Unit // no-op after a successful swap
      }
      Rebuilt(latest)
    } else if (m.covered) {
      refreshExactCovered(spark, t, spanRowBound(t.span.get))
    } else {
      val delta = baseCells(spark, path, m, Map(
        "sinceSeq" -> m.asOfSeq.toString, "asOfSeq" -> latest.toString))
      // Skip the write for an empty delta (commits touching other
      // qualifiers, marker-only commits): the index manifest must not
      // grow a zero-row entry per maintenance pass — only the covered
      // seq advances. The delta is cached so the emptiness probe and the
      // write share one read of the (bounded) span.
      val cells = indexCells(delta, m).cache()
      try {
        if (!cells.isEmpty)
          cells.write.format("graft-kv").mode("append").save(dir.toString)
        writeMeta(fs, dir, m.copy(asOfSeq = latest))
      } finally { cells.unpersist(): Unit }
      Refreshed(m.asOfSeq, latest)
    }
  }

  /** Offline index consistency audit — the Phoenix IndexScrutinyTool
    * analog. Checks the SUPERSET INVARIANT lookup correctness rests on:
    * every (key, value) current in the base AT THE INDEX'S COVERED SEQ
    * must have an index entry (`missing` — an invariant VIOLATION: such
    * a row would be a silent false negative for any lookup whose tail
    * span starts above it; the fix is a rebuild). `stale` counts index
    * entries for no-longer-current pairs — EXPECTED debris from updates
    * and deletes (read-time verification absorbs it; compaction of the
    * base never purges it, only a rebuild does), reported for sizing.
    * Cost: one base scan of the indexed column at the covered version +
    * one index scan + two anti-join shuffles — the offline audit shape.
    */
  case class Scrutiny(coveredSeq: Long, current: Long, missing: Long,
      stale: Long)

  def scrutiny(spark: SparkSession, path: String, name: String): Scrutiny = {
    val t = resolve(spark, path, name)
    val m = t.m
    // The base's current view AT the covered seq: post-covered changes
    // are legitimately absent from the index (the lookup tail serves
    // them) and must not count as missing. `pv` is the NUL-joined padded
    // component tuple — for a single-component index, the padded value.
    // guardedValue (inside checkedComponent): an over-width current
    // value RAISES here like it does in refresh — a silently
    // lpad-truncated pv could collide with a stale index entry and mask
    // a genuine missing row.
    val parts = m.keyQuals.indices.map { i =>
      paddedValue(checkedComponent(col(s"_v$i"), m.pads(i)), m.pads(i))
    }
    val currentAt = currentWide(spark, path, m,
      Map("asOfSeq" -> m.asOfSeq.toString))
      .select(col("rowKey"),
        parts.reduce((a, b) => concat(a, lit(Sep), b)).as("pv"))
    val idxPairs = spark.read.format("graft-kv").load(t.dir.toString)
      // `k` cells carry the base key; a covered index's `v`/`q:` payload
      // cells are not entries of their own.
      .filter(col("qualifier") === "k")
      .select(decode(col("value"), "UTF-8").as("rowKey"),
        substring_index(col("rowKey"), Sep, m.keyQuals.length).as("pv"))
      .distinct()
    val keyCols = Seq("rowKey", "pv")
    val nCurrent = currentAt.count()
    val nMissing = currentAt.join(idxPairs, keyCols, "left_anti").count()
    val nStale = idxPairs.join(currentAt, keyCols, "left_anti").count()
    Scrutiny(m.asOfSeq, nCurrent, nMissing, nStale)
  }

  /** AUTOMATIC INDEX ROUTING — the Phoenix-optimizer behavior the
    * explicit [[lookup]] API leaves to the caller: given a VALUE range
    * predicate on one (family, qualifier) of the table, decide from
    * manifest stats alone whether to serve it through a matching
    * maintained index (verified lookup: pruned index range scan +
    * bloom-pruned candidate gets) or through the plain full family scan
    * (LWW + filter). Both plans are always CORRECT — the decision is
    * purely a cost call, exactly HBase/Phoenix's: an index only pays
    * when the range is selective, because every candidate still costs a
    * verified base re-read, so a range matching most of the table would
    * turn one scan into a scan plus an index's worth of gets.
    *
    * The estimate is zero-I/O beyond two driver-side manifest replays:
    * the INDEX's region files are VALUE-ordered with recorded key
    * bounds, so the candidate count is the row sum of index files
    * overlapping `[loPad, hiPad)` (conservative: a partly-overlapping
    * file counts whole), and the base row count comes from the base
    * manifest. Route to the index when candidates ≤ [[MaxSelectivity]] ×
    * base rows. The unabsorbed CDC tail rides the verified lookup as
    * always and is not part of the estimate (bounded by maintenance
    * lag).
    *
    * `pad` is only consulted when NO matching index exists (the full-scan
    * fallback still needs the value collation); with an index, its
    * recorded pad wins and a contradicting argument is refused.
    */
  def autoLookup(spark: SparkSession, path: String, family: String,
      qualifier: String, lo: String, hi: String, pad: Int = 0): DataFrame = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    // Composite indexes are skipped: their entries exist only for rows
    // carrying ALL key components (inner-join semantics), so serving a
    // single-qualifier predicate from one would silently drop rows that
    // lack the other components.
    val matching = list(fs, table)
      .find(m => m.family == family && m.qualifier == qualifier &&
        !m.composite)
    matching.foreach(m => require(pad == 0 || pad == m.pad,
      s"graft-kv index: autoLookup pad=$pad contradicts index " +
        s"'${m.name}' (pad=${m.pad}) on ($family, $qualifier)"))
    val m = matching.getOrElse(Meta("<scan>", family, qualifier, pad, -1L))
    // bounds validate before the cost call: the index and the scan plan
    // refuse the same inputs, so the answer never depends on the estimate
    val b = padded(m, Seq((Some(lo), Some(hi))))
    if (matching.exists(rangeIsSelective(fs, table, _, lo, hi)))
      lookup(spark, path, m.name, lo, hi)
    else plainAnswer(m, baseCells(spark, path, m, Map.empty), b)
  }

  /** Driver-side memo for [[rangeIsSelective]]'s manifest replays, keyed
    * by (directory, its latest committed seq): repeated PLANNING of a
    * routed query — every bench rep re-plans — was paying two full
    * manifest replays per matching Filter. The key's latestSeq read is
    * one hint file + one existence probe, so a hit costs O(1) driver
    * I/O; a new commit bumps the seq and misses into a fresh replay
    * (KvIndexRoutingSpec pins the invalidation). Bounded by wholesale
    * clear — stale (dir, seq) keys are garbage after every commit, and
    * correctness never depends on a hit.
    */
  private val liveStatsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Seq[(String, Option[KvLog.FileStat])]]()

  private def cachedLiveStats(fs: FileSystem,
      dir: Path): Seq[(String, Option[KvLog.FileStat])] = {
    val latest = KvLog.latestSeq(fs, dir)
    // The latest ENTRY's mtime joins the key: (path, seq) alone collides
    // when a table is deleted and recreated at the same path through the
    // same deterministic commit sequence (the standard staging pattern),
    // and the memo would then price ranges against the dead table's
    // stats for the rest of the JVM. The mtime probe is one getFileStatus
    // — the same cost class as the latestSeq hint read beside it.
    val mtime =
      if (latest < 0) -1L
      else try fs.getFileStatus(
        new Path(new Path(dir, KvLog.LogDirName), f"$latest%020d"))
        .getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    val key = (dir.toString, latest, mtime)
    if (liveStatsCache.size > 512) liveStatsCache.clear()
    // The memo holds the version its key names: replayed AT `latest`, so a
    // commit landing after the seq read cannot file N+1's stats under N.
    liveStatsCache.computeIfAbsent(key, _ =>
      if (latest < 0) Nil else KvLog.live(fs, dir, Some(latest)).withStats)
  }

  /** The routing threshold: an index serves a range when its estimated
    * candidates are at most this share of the base rows.
    */
  val MaxSelectivity = 0.2

  private[sources] def rangeIsSelective(fs: FileSystem, table: Path, m: Meta,
      lo: String, hi: String): Boolean = {
    val (candidates, baseRows, _) = rangeEstimate(fs, table, m, lo, hi)
    isSelective(candidates, baseRows)
  }

  /** [[MaxSelectivity]] applied to a [[rangeEstimate]]; an empty or
    * stat-less base always routes (the index is free).
    */
  private[sources] def isSelective(candidates: Double, baseRows: Long): Boolean =
    baseRows <= 0 || candidates <= MaxSelectivity * baseRows

  /** Manifest-stat cost estimate shared by [[rangeIsSelective]] and the
    * routed-plan statistics ([[KvRoutedLookup]]): (estimated candidate
    * rows in `[lo, hi)`, base rows, base bytes) — two driver-side
    * manifest replays (memoized per latest seq), zero data I/O.
    */
  private[sources] def rangeEstimate(fs: FileSystem, table: Path, m: Meta,
      lo: String, hi: String): (Double, Long, Long) = {
    val (loPad, hiPad) = (padBound(lo, m.pad), padBound(hi, m.pad))
    val idxStats = cachedLiveStats(fs, indexDir(table, m.name))
    val baseStats = cachedLiveStats(fs, table)
    val baseRows = baseStats.flatMap(_._2).map(_.rows).sum
    val baseBytes = baseStats.flatMap(_._2).map(_.bytes).sum
    val candidates = idxStats.map { case (_, st) =>
      st match {
        case Some(s) => (s.minKey, s.maxKey) match {
          // value-leading index keys: the file overlaps [loPad, hiPad)
          // unless it ends below lo or starts at/after hi; a partial
          // overlap interpolates under the equi-depth assumption (the
          // standard histogram estimate — region files ARE equi-depth
          // buckets of the value order).
          case (Some(mn), Some(mx)) =>
            if (graft.kv.Utf8Order.compare(mx, loPad) < 0 ||
              graft.kv.Utf8Order.compare(mn, hiPad) >= 0) 0.0
            else {
              val (a, b) = (lexPos(mn), lexPos(mx))
              val span = b - a
              if (span <= 0) s.rows.toDouble // one-value file: all in
              else {
                val f = ((math.min(lexPos(hiPad), b) -
                  math.max(lexPos(loPad), a)) / span).max(0.0).min(1.0)
                (s.rows * f).max(1.0)
              }
            }
          case _ => s.rows.toDouble
        }
        case None => Double.MaxValue / 1024 // stat-less index file: assume big
      }
    }.sum
    (candidates, baseRows, baseBytes)
  }

  /** Lexicographic position of a key in [0, 1): its first 8 bytes read
    * base-256 — the monotone projection the fractional-overlap estimate
    * interpolates on. Exact for fixed-width padded decimals (the decimal
    * index mode); an approximation for arbitrary strings, which only
    * moves a COST estimate, never correctness.
    */
  private def lexPos(s: String): Double = {
    val b = s.getBytes("UTF-8")
    var v = 0.0
    var scale = 1.0 / 256
    var i = 0
    while (i < 8) {
      v += (if (i < b.length) (b(i) & 0xff) else 0) * scale
      scale /= 256
      i += 1
    }
    v
  }

  /** Decimal-mode bound validation shared by every read entry point —
    * the SAME refusal regardless of index freshness, so behavior never
    * depends on maintenance timing.
    */
  private def requireValidBound(pad: Int, which: String, v: String): Unit =
    boundProblem(pad, which, v).foreach(p => require(false, p))

  /** Whether `v` can bound a key component of width `pad` (0 = string
    * order) — the acceptance every lookup entry point enforces, asked
    * by [[KvIndexRouting]] so a plan-time decision never routes a bound
    * the execution-time lookup would refuse.
    */
  private[sources] def validBound(pad: Int, v: String): Boolean =
    boundProblem(pad, "", v).isEmpty

  private def boundProblem(pad: Int, which: String, v: String): Option[String] =
    // NUL is the KEY SEPARATOR: values are refused at build time
    // (checkedComponent), and BOUNDS must be too — a NUL-carrying bound
    // compares differently against the raw value ("b" < "b<NUL>z") than
    // against the NUL-joined encoded key ("b<NUL><suffix>" vs
    // "b<NUL>z" decides on the suffix), so the index-only fast path
    // would silently disagree with the verified path on range edges.
    if (v.contains(Sep))
      Some(s"graft-kv index: $which bound contains NUL (the key separator) " +
        "— unsupported for a string-ordered index")
    else if (pad > 0 && v.length > pad)
      Some(s"graft-kv index: $which bound '$v' exceeds the index's decimal " +
        s"width pad=$pad — no indexed value can reach it")
    // Decimal mode orders CANONICAL NON-NEGATIVE decimals; a non-digit
    // bound (negative, signed, alpha) would compare lexically against
    // zero-padded keys in an order that diverges from the numeric intent
    // — refused rather than silently odd. (Non-digit VALUES are refused
    // at build/refresh/verification time by guardedValue — they do NOT
    // reliably sort outside padded ranges: pad=3 puts 'ab' → '0ab'
    // inside ['000','999').)
    else if (pad > 0 && !(v.nonEmpty && v.forall(c => c >= '0' && c <= '9')))
      Some(s"graft-kv index: decimal-mode $which bound '$v' must be a " +
        "non-negative decimal string")
    else None

  /** Left-zero-pad one validated bound to the component's width (0 = raw
    * string order, identity). Callers validate first ([[padded]]) — the
    * width check lives THERE, so this never has to silently clamp.
    */
  private def padBound(v: String, pad: Int): String =
    if (pad > 0) ("0" * (pad - v.length)) + v else v

  // ------------------------------------------------ shapes and outputs

  /** A read's SHAPE: one `(lo, hi)` per key component in index order —
    * one for a single-component index — padded to the component's width;
    * an open side is None.
    */
  private type Bounds = Seq[(Option[String], Option[String])]

  /** Validate (per component, lo before hi) and pad raw bounds. */
  private def padded(m: Meta, raw: Seq[(Option[String], Option[String])]): Bounds =
    raw.zip(m.pads).map { case ((lo, hi), p) =>
      lo.foreach(requireValidBound(p, "lo", _))
      hi.foreach(requireValidBound(p, "hi", _))
      (lo.map(padBound(_, p)), hi.map(padBound(_, p)))
    }

  /** `df` within the bounds, component i read by `comp(i)`. */
  private def within(df: DataFrame, b: Bounds,
      comp: Int => org.apache.spark.sql.Column): DataFrame =
    b.zipWithIndex.flatMap { case ((lo, hi), i) =>
      lo.map(comp(i) >= _) ++ hi.map(comp(i) < _)
    }.reduceOption(_ && _).fold(df)(df.filter)

  /** A value column in its index collation: decimal-guarded and padded. */
  private def collated(v: org.apache.spark.sql.Column, pad: Int) =
    paddedValue(guardedValue(v, pad), pad)

  /** The bounded index scan. The leading bounds are an encoded-key range
    * — a no-NUL bound b satisfies `encoded >= b <=> v1 >= b` and
    * `encoded < b <=> v1 < b` (the prefix-free NUL encoding: the
    * terminator sorts below every bound byte) — so manifest bounds prune
    * regions and the record filter prunes rows; non-leading bounds
    * filter the key's NUL segments, stored padded (whole entries: every
    * cell of an entry shares its key).
    */
  private def indexScan(spark: SparkSession, t: Target, b: Bounds): DataFrame =
    within(spark.read.format("graft-kv").load(t.dir.toString), b, i =>
      if (i == 0) col("rowKey") else element_at(split(col("rowKey"), Sep), i + 1))

  /** Grouped index entries → `rowKey` (base key), `value` (leading
    * component value) and one decoded column per `payload` qualifier.
    */
  private def entryAnswer(entries: DataFrame, payload: Seq[String]): DataFrame =
    entries.select(decode(col("_k"), "UTF-8").as("rowKey") +:
      decode(col("_v"), "UTF-8").as("value") +:
      payload.map(q => decode(col(s"_q$q"), "UTF-8").as(q)): _*)

  /** The INDEX-ONLY range read of a covered index: one bounded index
    * scan (delete masking hides tombstoned entries inside the scan), one
    * LWW group per entry — base table untouched. Output: `rowKey`,
    * `value`, one column per non-leading key component (named by its
    * qualifier, never null) and per `include` qualifier (null where the
    * base row lacks it).
    */
  private def coveredRead(spark: SparkSession, t: Target, b: Bounds): DataFrame = {
    val payload = t.m.rest.map(_._1) ++ t.m.include
    entryAnswer(LwwSlots.byRowKey(indexScan(spark, t, b), entryColumns(payload))
      .filter(col("_k").isNotNull), payload)
  }

  /** The top `n` complete entries of the bounded index scan in key order
    * (scan direction `desc`): a pushed cell-level TopN of `cells` cells —
    * O(n) rows per region file, never O(index) — grouped per entry. The
    * cell limit can cut only the LAST entry of the prefix; the
    * `_k AND _v present` filter drops it, and callers over-fetch one
    * entry so n whole ones remain whenever the index has them.
    */
  private def indexHead(spark: SparkSession, t: Target, b: Bounds,
      desc: Boolean, n: Long, cells: Long, payload: Seq[String]): DataFrame = {
    val key = if (desc) col("rowKey").desc else col("rowKey").asc
    LwwSlots.byRowKey(indexScan(spark, t, b).orderBy(key).limit(cells.toInt),
        entryColumns(payload))
      .filter(col("_k").isNotNull && col("_v").isNotNull)
      .orderBy(key).limit(n.toInt)
  }

  /** One qualifier's cells → its current value per key, decoded. */
  private def latestValue(cells: DataFrame): DataFrame =
    cells.groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(col("value"), col("ts")),
        "UTF-8").as("value"))

  /** PLAIN output: `(rowKey, value)` — the current value of the leading
    * qualifier, kept where it lies in the leading bounds.
    */
  private def plainAnswer(m: Meta, cells: DataFrame, b: Bounds): DataFrame =
    within(latestValue(cells), b.take(1), _ => collated(col("value"), m.pad))

  /** A wide current frame ([[currentWide]]) → `rowKey, value,
    * <non-leading components...>, <includes...>`.
    */
  private def coveredColumns(m: Meta, wide: DataFrame): DataFrame =
    wide.select(col("rowKey") +: (m.keyQuals ++ m.include).zipWithIndex.map {
      case (q, i) => decode(col(s"_v$i"), "UTF-8").as(if (i == 0) "value" else q)
    }: _*)

  /** The key components of a wide current frame ([[currentWide]]) in
    * their collations, one column per component: NUL-refused,
    * decimal-guarded, padded.
    */
  private def components(m: Meta): IndexedSeq[org.apache.spark.sql.Column] =
    m.keyQuals.indices.map(i =>
      paddedValue(checkedComponent(col(s"_v$i"), m.pads(i)), m.pads(i)))

  /** COVERED output: every component within its bounds, then
    * [[coveredColumns]] — shared by the verified reads and the
    * index-free composite plan.
    */
  private def compositeAnswer(m: Meta, wide: DataFrame, b: Bounds): DataFrame =
    coveredColumns(m, within(wide, b, components(m)))

  /** The verified RANGE read under [[lookup]], [[lookupCovered]] and
    * [[lookupComposite]]: a shape (one component or composite) × an
    * output (`covered`: [[compositeAnswer]], else [[plainAnswer]]). A
    * covered index fresh at `latest` holds exactly one entry per current
    * base row (the exact refresh invariant), so it serves INDEX-ONLY —
    * zero base file opens, the Phoenix covered-read shape. Otherwise the
    * [[Candidates]] are the index entries in the bounds ∪ the tail:
    *  - one component: the span's cells of the indexed qualifier whose
    *    value is in range — read from a full pinned base scan when the
    *    span is unservable;
    *  - composite: every key the span touched on ANY key component (a
    *    change to component 2 can move a row INTO the range); an
    *    unservable span verifies over the whole pinned wide frame.
    */
  private def rangeRead(spark: SparkSession, t: Target, b: Bounds,
      covered: Boolean, cap: Int): DataFrame = {
    import spark.implicits._
    val m = t.m
    if (m.covered && t.fresh) {
      val served = coveredRead(spark, t, b)
      return if (covered) served else served.select(col("rowKey"), col("value"))
    }
    // `k` cells carry the base key (a no-op filter on a plain index; it
    // skips a covered index's value/include payload cells)
    val head = indexScan(spark, t, b).filter(col("qualifier") === "k")
      .select(decode(col("value"), "UTF-8").as("rowKey"))
    val tail: Option[DataFrame] =
      if (m.composite) t.span.map(_ => t.feed(spark)
        .filter(col("family") === m.family && col("qualifier").isin(m.keyQuals: _*))
        .select(col("rowKey")))
      else if (t.fresh) Some(Seq.empty[String].toDF("rowKey"))
      else {
        val span = if (t.span.isEmpty) t.pinned
          else t.pinned + ("sinceSeq" -> m.asOfSeq.toString)
        Some(within(baseCells(spark, t.path, m, span), b.take(1),
          _ => collated(decode(col("value"), "UTF-8"), m.pad)).select(col("rowKey")))
      }
    val candidates = tail.map(tl => Candidates(head.unionByName(tl), None, cap))
    if (covered)
      compositeAnswer(m, verify(currentWide(spark, t.path, m, t.pinned), candidates), b)
    else plainAnswer(m, verify(baseCells(spark, t.path, m, t.pinned), candidates), b)
  }

  /** Verified range lookup: base keys and their current
    * (last-write-wins, delete-masked) value for the index's qualifier,
    * restricted to values in `[lo, hi)` (string order; numeric order in
    * decimal mode). Returns `(rowKey, value)`, the value decoded to a
    * string. One component × plain output of [[rangeRead]].
    */
  def lookup(spark: SparkSession, path: String, name: String,
      lo: String, hi: String): DataFrame =
    lookup(spark, path, name, lo, hi, InPushdownCap)

  /** [[lookup]] with the `In` cap set ([[Candidates]]): the join
    * verification on a small table.
    */
  private[sources] def lookup(spark: SparkSession, path: String, name: String,
      lo: String, hi: String, cap: Int): DataFrame = {
    val t = resolve(spark, path, name)
    require(!t.m.composite,
      s"graft-kv index: '$name' is a composite index — a single-qualifier " +
        "lookup over it would drop rows lacking the other key components; " +
        "use lookupComposite() with one bound per component")
    rangeRead(spark, t, padded(t.m, Seq((Some(lo), Some(hi)))),
      covered = false, cap)
  }

  /** Covered lookup: [[lookup]]'s answer plus one column per `include`
    * qualifier (current value, null where absent) — one component ×
    * covered output of [[rangeRead]]: index-only when fresh (the
    * counting-FS spec pins zero base data-file opens), else one
    * verification of the wide frame so the extra columns are as current
    * as the rows.
    */
  def lookupCovered(spark: SparkSession, path: String, name: String,
      lo: String, hi: String): DataFrame = {
    val t = resolve(spark, path, name)
    require(t.m.covered,
      s"graft-kv index: '$name' is not a covered index — create it with " +
        "include/covered, or use lookup()")
    require(!t.m.composite,
      s"graft-kv index: '$name' is a composite index — use " +
        "lookupComposite() with one bound per component")
    rangeRead(spark, t, padded(t.m, Seq((Some(lo), Some(hi)))),
      covered = true, InPushdownCap)
  }

  /** COMPOSITE lookup: one `[lo, hi)` bound per key component (string
    * order; numeric order for decimal-mode components) — composite ×
    * covered output of [[rangeRead]]. Returns `rowKey`, `value` (leading
    * component), one column per non-leading key component and per
    * `include` qualifier — always the CURRENT values. Only rows carrying
    * every key component answer (the index's inner-join semantics).
    */
  def lookupComposite(spark: SparkSession, path: String, name: String,
      bounds: Seq[(String, String)]): DataFrame = {
    val t = resolve(spark, path, name)
    require(t.m.composite,
      s"graft-kv index: '$name' is a single-component index — use " +
        "lookup()/lookupCovered()")
    requireComponents(t.m, bounds.length)
    rangeRead(spark, t, padded(t.m, bounds.map { case (lo, hi) =>
      (Some(lo), Some(hi)) }), covered = true, InPushdownCap)
  }

  private def requireComponents(m: Meta, n: Int): Unit =
    require(n == m.keyQuals.length,
      s"graft-kv index: '${m.name}' has ${m.keyQuals.length} key components " +
        s"(${m.keyQuals.mkString(", ")}); got $n bounds")

  /** The cell prefix a top-n of `k` entries fetches — `k + 1` entries
    * ([[indexHead]]) of `perEntry` cells — refused past [[MaxTopNFetch]].
    */
  private def topNFetch(k: Int, perEntry: Int): Long = {
    require(k >= 1, s"graft-kv index: top-n k must be >= 1, got $k")
    val fetch = (k.toLong + 1) * perEntry
    require(fetch <= MaxTopNFetch,
      s"graft-kv index: top-n k=$k needs a $fetch-cell index prefix — " +
        s"beyond the $MaxTopNFetch inspection bound; run the pivot sort " +
        "for result sets this large")
    fetch
  }

  /** The STALE top-n [[Candidates]]: every base change since the covered
    * seq lives in the span, so the true top k is covered by
    *  - the top `k + T` stale index entries (T = distinct base keys the
    *    span touched, deletes included): an unchanged row in the true
    *    top k can be out-ranked in the index only by at most k-1 other
    *    unchanged top rows plus at most T since-invalidated entries, and
    *  - the T touched keys themselves (rows that moved INTO the top) —
    * at most k + 2T keys, the a-priori bound. None — verify over the
    * whole pinned frame — when a gate says the exact pivot is the honest
    * plan: an unservable span, a span priced past 16 × the cap (a
    * distinct cannot stop early, so a million-change span must not pay a
    * feed-sized shuffle to learn "too many"; stat-less legacy files price
    * as huge), a touched set past the cap, or an over-fetch past
    * [[MaxTopNFetch]]. `head(n, cells)` is the shape's [[indexHead]].
    */
  private def topNCandidates(spark: SparkSession, t: Target, k: Int,
      perEntry: Int, head: (Long, Long) => DataFrame): Option[Candidates] = {
    import spark.implicits._
    t.span.map(spanRowBound).filter(_ <= 16.0 * InPushdownCap)
      .flatMap(rows => touchedKeys(t.feed(spark).select(col("rowKey")), rows).inList)
      .flatMap { touched =>
        val n = k.toLong + touched.length
        val overFetch = (n + 1) * perEntry
        if (overFetch > MaxTopNFetch) None
        else Some(Candidates(
          head(n, overFetch).select(decode(col("_k"), "UTF-8").as("rowKey"))
            .unionByName(touched.toSeq.toDF("rowKey")),
          Some(n + touched.length)))
      }
  }

  /** INDEX-SERVED TOP-N — the Phoenix ORDER-BY-elimination shape: the k
    * extreme base rows by CURRENT value (optionally restricted to a
    * `[lo, hi)` value range), one component × top-n output. FRESH
    * (covered seq == base latest): exact maintenance means the index
    * holds exactly one logical entry per current base row, so its key
    * order IS the (value, rowKey) order and its head IS the answer
    * ([[indexHead]]) — ZERO base data-file opens. STALE: the verified
    * re-rank of [[topNCandidates]], pinned — O(k + changes) base gets on
    * a LIVE table instead of silently demanding a refresh
    * (AvroReader.java:27-30's limit semantics: inspection stays O(k)).
    * A PLAIN (append-only) index never serves: its superseded entries
    * accumulate without bound, so no CDC span bounds the invalidated
    * count (refused loudly — the fix is a covered index).
    *
    * Output: `(rowKey, value)`, ordered by the index key in scan
    * direction; ties in `value` break by base rowKey, DESC ties taking
    * the largest keys first. Decimal mode (pad > 0) orders numerically;
    * string mode lexicographically — the collation [[lookup]] bounds
    * share.
    *
    * `wide` serves the MULTI-qualifier pivot: rows are the base rows
    * carrying ANY of (leading qualifier ∪ `include`), output is
    * `(rowKey, value, <include columns>)`, ordered by the LEADING value.
    * A row with only include qualifiers pivots with a NULL leading value
    * the index cannot see, so the index serves exactly where nulls
    * provably cannot reach the k-set (the wide null guards):
    *  - any `[lo, hi)` bound excludes null-leading rows on BOTH sides
    *    (the pivot's CAST comparison nulls them out too);
    *  - a maintained `includeOnly == 0` ([[Meta]] doc) proves no such
    *    row exists at the covered seq — any at `latest` is a touched
    *    candidate — so both directions serve;
    *  - BARE + DESC (nulls last): the head serves IFF it yields k full
    *    rows, probed by one O(k·files) collect whose rows ARE the answer;
    *    fewer means the answer pads with null-leading rows, answered by
    *    the exact wide pivot instead;
    *  - BARE + ASC (nulls FIRST): the true head IS the null-leading rows
    *    — always the exact wide pivot ([[KvIndexRouting]] declines this
    *    shape, so routed plans never pay it blindly).
    */
  def topNCovered(spark: SparkSession, path: String, name: String, k: Int,
      desc: Boolean = true,
      lo: Option[String] = None, hi: Option[String] = None,
      wide: Boolean = false): DataFrame = {
    val t = resolve(spark, path, name)
    val m = t.m
    require(m.covered,
      s"graft-kv index: '$name' is not exactly maintained (covered) — a " +
        "plain index holds superseded entries whose stale values would " +
        "out-rank current ones; top-n needs a covered index")
    require(!m.composite,
      s"graft-kv index: '$name' is a composite index — its entries exist " +
        "only for rows carrying ALL key components, the wrong row set for " +
        "a single-column top-n")
    val perEntry = 2 + m.include.length
    val fetch = topNFetch(k, perEntry)
    // Either bound may be open: `value >= x ORDER BY value LIMIT k` has
    // no upper bound.
    val b = padded(m, Seq((lo, hi)))
    val bounded = lo.isDefined || hi.isDefined
    val pv = collated(col("value"), m.pad)
    val ord = if (desc) Seq(pv.desc, col("rowKey").desc)
      else Seq(pv.asc, col("rowKey").asc)
    /** Bounds + order + limit; null leading values sort with the
      * direction default (DESC → last), matching the pivot's Sort.
      */
    def rank(df: DataFrame): DataFrame =
      within(df, b, _ => pv).orderBy(ord: _*).limit(k)
    /** The pinned pivot over the cells `narrow` keeps: `(rowKey, value)`,
      * or for `wide` one row per key carrying any of (leading ∪ include),
      * null where absent.
      */
    def pivot(narrow: DataFrame => DataFrame): DataFrame =
      if (!wide) latestValue(narrow(baseCells(spark, path, m, t.pinned)))
      else {
        val quals = m.qualifier +: m.include
        LwwSlots.byRowKey(narrow(KvRead.cells(spark, path, t.pinned)
            .filter(col("family") === m.family && col("qualifier").isin(quals: _*))),
          quals.zipWithIndex.map { case (q, i) => (q, s"_w$i") })
          .select(col("rowKey") +: quals.zipWithIndex.map { case (q, i) =>
            decode(col(s"_w$i"), "UTF-8").as(if (i == 0) "value" else q) }: _*)
      }
    def exact: DataFrame = rank(pivot(identity))
    /** The bare-DESC wide guard: serve the probe's own rows when they are
      * k full ones — re-executing the probed frame would pay the ranked
      * job twice.
      */
    def kFull(top: DataFrame): DataFrame = {
      val rows = top.collect()
      if (rows.length == k && rows.forall(!_.isNullAt(1)))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), top.schema)
      else exact
    }

    if (t.fresh) {
      if (!wide) return entryAnswer(indexHead(spark, t, b, desc, k, fetch, Nil), Nil)
      val top = entryAnswer(indexHead(spark, t, b, desc, k, fetch, m.include),
        m.include)
      return if (bounded || m.includeOnly.contains(0L)) top
        else if (!desc) exact
        else kFull(top)
    }
    val c = topNCandidates(spark, t, k, perEntry,
      indexHead(spark, t, b, desc, _, _, Nil))
    // the candidate-restricted pivot is a superset of the true
    // non-null-leading top k, so the k-set is exact exactly where the
    // null guards prove nulls out
    val ranked = rank(pivot(verify(_, c)))
    if (!wide || c.isEmpty || bounded || m.includeOnly.contains(0L)) ranked
    else if (!desc) exact
    else kFull(ranked)
  }

  /** INDEX-SERVED COMPOSITE TOP-N — `ORDER BY c1, c2... [DESC] LIMIT k`
    * over a composite index, composite × top-n output. The prefix-free
    * encoding makes encoded key order EXACTLY component-tuple order
    * ([[Meta]] doc) in both directions, so the ordered k-head of the
    * bounded index range IS the pivot's top-k, ties broken by base rowKey
    * in scan direction. FRESH: one index scan ([[indexHead]]); STALE: the
    * verified re-rank of [[topNCandidates]] over the pinned wide frame.
    *
    * NULL soundness: a pivot row missing SOME component pivots with NULL
    * there and ranks mid-stream under a multi-column sort — `(9, NULL)`
    * out-ranks `(5, 3)` under `DESC` nulls-last — while the index cannot
    * see it (entries exist only for rows carrying ALL components), and no
    * k-full probe can bound it the way the single-column wide guard does.
    * Any one-sided bound on a component nulls such rows out of the
    * pivot's own comparison, so with a bound per component the pivot's
    * rows are EXACTLY the index's in-bounds entries. A fully open
    * component serves from the index only under the maintained
    * no-partials proof (`includeOnly == 0` at the covered seq — any
    * partial row at `latest` is then a touched candidate); otherwise the
    * exact pivot over the frame that keeps partial rows answers.
    *
    * Output: `(rowKey, value, <non-leading components...>,
    * <includes...>)` — [[lookupComposite]]'s positional schema — the
    * top-k rows in scan direction.
    */
  def topNComposite(spark: SparkSession, path: String, name: String,
      k: Int, desc: Boolean,
      bounds: Seq[(Option[String], Option[String])]): DataFrame = {
    val t = resolve(spark, path, name)
    val m = t.m
    require(m.composite,
      s"graft-kv index: '$name' is a single-component index — use " +
        "topNCovered()")
    val payload = m.rest.map(_._1) ++ m.include
    val perEntry = 2 + payload.length
    val fetch = topNFetch(k, perEntry)
    requireComponents(m, bounds.length)
    val b = padded(m, bounds)
    val anyOpen = bounds.exists { case (lo, hi) => lo.isEmpty && hi.isEmpty }
    def head(n: Long, cells: Long) = indexHead(spark, t, b, desc, n, cells, payload)
    // open components keep PARTIAL rows: the pivot ranks them
    def frame =
      if (anyOpen) currentWideAny(spark, path, m, t.pinned)
      else currentWide(spark, path, m, t.pinned)
    // bounds + tuple order + limit; open components contribute no filter
    // and their NULLs order with the direction default — the pivot's Sort
    def rank(wide: DataFrame): DataFrame = {
      val comps = components(m)
      coveredColumns(m, within(wide, b, comps)
        .orderBy(comps.map(c => if (desc) c.desc else c.asc) :+
          (if (desc) col("rowKey").desc else col("rowKey").asc): _*)
        .limit(k))
    }
    if (anyOpen && !m.includeOnly.contains(0L)) rank(frame)
    else if (t.fresh) entryAnswer(head(k, fetch), payload)
    else rank(verify(frame, topNCandidates(spark, t, k, perEntry, head)))
  }

  /** [[autoLookup]]'s COMPOSITE twin: per-qualifier `[lo, hi)` predicates
    * on one family, served through a matching composite index
    * ([[lookupComposite]]) when one exists AND the manifest-stat cost
    * call says the LEADING component's range is selective — otherwise
    * through the index-free plan (one wide scan, one LWW pivot over the
    * components, all bounds filtered). Both plans compute the same
    * inner-join row set (rows carrying ALL the named qualifiers), so the
    * decision is purely cost, like [[autoLookup]]. `pads` declares each
    * component's collation for the NO-INDEX fallback only (defaults to
    * raw string order); with an index, its recorded pads win and a
    * contradicting declaration is refused.
    */
  def autoLookupComposite(spark: SparkSession, path: String, family: String,
      preds: Seq[(String, String, String)], pads: Seq[Int] = Nil): DataFrame = {
    require(preds.nonEmpty, "graft-kv index: autoLookupComposite needs at " +
      "least one (qualifier, lo, hi) predicate")
    require(pads.isEmpty || pads.length == preds.length,
      s"graft-kv index: ${preds.length} predicates but ${pads.length} pads")
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val qualSet = preds.map(_._1).toSet
    require(qualSet.size == preds.length,
      "graft-kv index: duplicate qualifier in the composite predicates")
    val declaredPads = preds.map(_._1)
      .zip(if (pads.isEmpty) Seq.fill(preds.length)(0) else pads).toMap
    val byQual = preds.map(p => p._1 -> ((p._2, p._3))).toMap
    // the index-free plan: one wide scan, every bound over the pivot
    def scan(m: Meta, b: Bounds): DataFrame =
      compositeAnswer(m, currentWide(spark, path, m, Map.empty), b)
    KvIndex.list(fs, table).find(i => i.family == family && i.composite &&
      i.keyQuals.length == preds.length && i.keyQuals.toSet == qualSet) match {
      case Some(m) =>
        if (pads.nonEmpty) m.keyQuals.zip(m.pads).foreach { case (q, p) =>
          require(declaredPads(q) == p,
            s"graft-kv index: declared pad ${declaredPads(q)} for '$q' " +
              s"contradicts index '${m.name}' (pad=$p)")
        }
        val ordered = m.keyQuals.map(byQual)
        // bounds validate before the cost probe: it must refuse the same
        // inputs the lookup itself would
        val b = padded(m, ordered.map { case (lo, hi) => (Some(lo), Some(hi)) })
        if (rangeIsSelective(fs, table, m, ordered.head._1, ordered.head._2))
          lookupComposite(spark, path, m.name, ordered)
        else scan(m, b)
      case None =>
        // index-free: synthesize the meta in PREDICATE order
        val head = preds.head._1
        val m = Meta("<scan>", family, head, declaredPads(head), -1L,
          rest = preds.tail.map(p => (p._1, declaredPads(p._1))),
          covered = true)
        scan(m, padded(m, preds.map(p => (Some(p._2), Some(p._3)))))
    }
  }
}
