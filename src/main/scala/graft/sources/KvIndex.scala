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
  *  - Correctness does NOT depend on freshness. A lookup is
  *    index-candidates ∪ tail-candidates, then VERIFY:
  *      1. index range scan → candidate base keys (the index may be
  *         STALE — updated rows leave old-value entries behind, deletes
  *         leave entries for masked rows; both are filtered next),
  *      2. base CDC tail `(indexed seq, latest]` → candidates the index
  *         has not absorbed yet (bounded by maintenance lag; served from
  *         a full base scan when the log cannot replay the span),
  *      3. re-read the candidates from the BASE table (bounded `In`
  *         pushdown → per-key bloom-pruned gets; join fallback above the
  *         cap), compute the current last-write-wins value, and keep only
  *         rows whose CURRENT value matches.
  *    Stale entries can only cost false candidates, never wrong results —
  *    the non-transactional-index contract Phoenix documents, made safe
  *    by verification instead of a synchronous write path.
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
  * scans plus candidate-count driver work capped at `InPushdownCap`.
  */
object KvIndex {

  val DirName = "_index"

  /** Key separator between padded value and base key (class doc). */
  private val Sep = "\u0000"

  /** Default bound on candidates routed through the pushed `In` filter
    * (per-key bloom-pruned gets). Above it the verification joins instead
    * — one base family scan, still correct, no driver blow-up.
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

  /** The stale span's distinct touched base keys, capped at
    * [[InPushdownCap]] — None when the cap is exceeded (callers fall
    * back to the exact pivot). When the manifest-stat row bound already
    * proves T <= cap (`spanRows` upper-bounds the distinct key count),
    * the distinct SHUFFLE is skipped entirely: the raw feed keys collect
    * and dedupe driver-side — the common small-span case pays one feed
    * scan and ZERO exchanges (r19). Bigger spans keep the capped
    * distinct probe.
    */
  private def staleTouchedKeys(spark: SparkSession, path: String,
      sinceSeq: Long, latest: Long,
      spanRows: Double): Option[Array[String]] = {
    val feed = spark.read.format("graft-kv")
      .option("sinceSeq", sinceSeq.toString)
      .option("asOfSeq", latest.toString).load(path)
      .select(col("rowKey"))
    val touched =
      if (spanRows <= InPushdownCap)
        feed.collect().map(_.getString(0)).distinct
      else feed.distinct()
        .limit(InPushdownCap + 1).collect().map(_.getString(0))
    if (touched.length > InPushdownCap) None else Some(touched)
  }

  /** The stale top-n candidate inputs — (touched keys, index over-fetch
    * cells) — or None when any gate says the exact pivot is the honest
    * plan: unservable span, manifest-priced span too big for the
    * touched probe (the pre-gate: a distinct cannot stop early, so a
    * million-change span must not pay a feed-sized shuffle to learn
    * "too many"; stat-less legacy files price as huge), touched set
    * past [[InPushdownCap]], or over-fetch past [[MaxTopNFetch]].
    * SHARED by the single-column and composite top-n routes so the
    * gates can never silently diverge.
    */
  private def staleTopNInputs(spark: SparkSession, path: String,
      fs: FileSystem, table: Path, m: Meta, latest: Long, k: Int,
      perEntry: Int): Option[(Array[String], Long)] = {
    val entries = servableSpan(fs, table, m.asOfSeq, latest) match {
      case Some(es) => es
      case None => return None
    }
    val spanRows = spanRowBound(entries)
    if (spanRows > 16.0 * InPushdownCap) return None
    // T = the span's distinct touched base keys — RAW feed, so deletes
    // (marker rows) count as touches too ([[staleTouchedKeys]]: the
    // common small span skips the distinct shuffle outright)
    val touched = staleTouchedKeys(spark, path, m.asOfSeq, latest,
      spanRows) match {
      case Some(t) => t
      case None => return None
    }
    val overFetch = (k.toLong + touched.length + 1) * perEntry
    if (overFetch > MaxTopNFetch) None else Some((touched, overFetch))
  }

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
  private def refreshExactCovered(spark: SparkSession, path: String,
      m: Meta, latest: Long, dir: Path, fs: FileSystem,
      spanBound: Double): RefreshResult = {
    import spark.implicits._
    val quals = m.keyQuals ++ m.include
    val n = quals.length
    // The raw change feed ships markers too — a row/column delete is a
    // change the index must absorb as a tombstone.
    val r = spark.read.format("graft-kv")
      .option("sinceSeq", m.asOfSeq.toString).option("asOfSeq", latest.toString)
    val feed = r.load(path).filter(
      (col("family") === m.family && col("qualifier").isin(quals: _*)) ||
        col("qualifier").startsWith(KvDelete.MarkerPrefix))
    // Touched-key probe: when the manifest row bound (`spanBound`, priced
    // once by the caller's servability probe) already proves the span
    // fits the cap, the raw feed keys collect and dedupe driver-side
    // with ZERO exchanges (the r19 staleTouchedKeys rule — the bound is
    // a priori, so the collect can never surprise).
    val touchedProbe =
      if (spanBound <= InPushdownCap)
        feed.select(col("rowKey")).collect().map(_.getString(0)).distinct
      else feed.select(col("rowKey")).distinct()
        .limit(InPushdownCap + 1).collect().map(_.getString(0))
    if (touchedProbe.isEmpty) {
      writeMeta(fs, dir, m.copy(asOfSeq = latest))
      return Refreshed(m.asOfSeq, latest)
    }
    val small = touchedProbe.length <= InPushdownCap
    def restrict(df: DataFrame): DataFrame =
      if (small)
        df.filter(col("rowKey").isin(touchedProbe.toIndexedSeq: _*))
      else df.join(feed.select(col("rowKey")).distinct(),
        Seq("rowKey"), "left_semi")
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
    val post = restrict(wideOf(Map("asOfSeq" -> latest.toString)))
    val preR = pre.select(col("rowKey") +:
      (0 until n).map(i => col(s"_v$i").as(s"_p$i")): _*)
    val joined0 = preR.join(post, Seq("rowKey"), "full_outer")
    if (small) {
      // SMALL-SPAN FAST PATH (r20, verdict #2): the joined diff frame is
      // bounded A PRIORI by the touched-key count (its join keys are a
      // subset of `touchedProbe`, itself ≤ InPushdownCap) — so it
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
    val stats = KvLog.liveFileStats(fs, dir).values
    val tombs = stats.map(_.tombstones).sum
    val rows = stats.map(_.rows).sum
    if (tombs > math.max(4096L, rows / 4))
      KvCompactor.compact(spark, dir.toString,
        regions = math.max(1, KvLog.liveFiles(fs, dir).size)): Unit
    Refreshed(m.asOfSeq, latest)
  }

  /** Whether the log cannot serve the base span `(since, latest]` as a
    * CDC read: it crosses a salt declaration the scan refuses (same
    * boundary rule — a declaration at exactly `since + 1` has nothing
    * below it and passes), or it dips below the compaction floor (the
    * merged-away segments' change sets are not reconstructible —
    * `KvLog.changedFiles` throws on the same condition). Retention
    * entries serve incrementally: the feed ships the drops as
    * exact-version markers, the touched-key probe sees their rowKeys,
    * and the post-image re-read at `latest` reflects the post-retention
    * state — refresh stays O(changes) across a retention pass. Probed
    * EAGERLY because the scan's refusals only fire at plan time, far
    * from the decision points here.
    */
  private def spanUnservable(fs: FileSystem, table: Path, since: Long,
      latest: Long): Boolean =
    servableSpan(fs, table, since, latest).isEmpty

  /** [[spanUnservable]] with the evidence kept: the span's log ENTRIES
    * when it is servable (so callers can price it via [[spanRowBound]]
    * without a second log replay — ADVICE-class finding, r20), None
    * when it is not.
    */
  private def servableSpan(fs: FileSystem, table: Path, since: Long,
      latest: Long): Option[Seq[KvLog.Entry]] = {
    if (since + 1 < KvLog.floor(fs, table)) return None
    if (KvSalt.declsIn(fs, table, since, latest).exists(_ != since + 1))
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
      KvLog.liveFilesAt(fs, table, since)
        .forall(n => fs.exists(new Path(table, n)))
    } catch {
      // liveFilesAt itself validates reconstructibility and throws once
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
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val m = meta(fs, table, name).orElse {
      // Self-heal a crashed rebuild swap before concluding "no index".
      if (recoverOrphans(fs, table) > 0) meta(fs, table, name) else None
    }.getOrElse(throw new IllegalArgumentException(
      s"graft-kv index: no index '$name' on $path"))
    val latest = KvLog.latestSeq(fs, table)
    if (latest <= m.asOfSeq) return Fresh(m.asOfSeq)
    val dir = indexDir(table, name)
    val span = servableSpan(fs, table, m.asOfSeq, latest)
    if (span.isEmpty) {
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
      refreshExactCovered(spark, path, m, latest, dir, fs,
        spanRowBound(span.get))
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
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val m = meta(fs, table, name).getOrElse(throw new IllegalArgumentException(
      s"graft-kv index: no index '$name' on $path"))
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
    val idxPairs = spark.read.format("graft-kv")
      .load(indexDir(table, name).toString)
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
      qualifier: String, lo: String, hi: String, pad: Int = 0,
      inPushdownCap: Int = InPushdownCap): DataFrame = {
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
    requireValidBounds(m, lo, hi)
    if (matching.exists(rangeIsSelective(fs, table, _, lo, hi)))
      lookup(spark, path, m.name, lo, hi, inPushdownCap)
    else scanLookup(spark, path, m.copy(name = "<scan>"), lo, hi)
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
    liveStatsCache.computeIfAbsent(key,
      _ => KvLog.liveFilesWithStats(fs, dir))
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

  /** The index-free plan for the same answer: one pruned family scan,
    * LWW per key, the range filter on the current value — what a
    * low-selectivity range SHOULD do (reading the table once beats the
    * index's per-candidate verification there). Bounds arrive validated
    * ([[autoLookup]]).
    */
  private def scanLookup(spark: SparkSession, path: String, m: Meta,
      lo: String, hi: String): DataFrame = {
    val (loPad, hiPad) = (padBound(lo, m.pad), padBound(hi, m.pad))
    val pv = paddedValue(guardedValue(col("value"), m.pad), m.pad)
    baseCells(spark, path, m, Map.empty)
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(col("value"), col("ts")),
        "UTF-8").as("value"))
      .filter(pv >= loPad && pv < hiPad)
  }

  /** Verified lookup: base keys and their current (last-write-wins,
    * delete-masked) value for `m.qualifier`, restricted to values in
    * `[lo, hi)` (string order; numeric order in decimal mode). Returns
    * `(rowKey, value)` with the value decoded to a string. The whole
    * lookup — tail span AND verification re-reads — is pinned to the one
    * `latest` seq probed up front, so the answer is snapshot-consistent
    * as of that version even under concurrent commits.
    */
  def lookup(spark: SparkSession, path: String, name: String,
      lo: String, hi: String, inPushdownCap: Int = InPushdownCap): DataFrame =
    lookupAt(spark, path, name, lo, hi, inPushdownCap, asOf = None)

  /** Decimal-mode bound validation shared by every lookup entry point —
    * the SAME refusal regardless of index freshness, so behavior never
    * depends on maintenance timing.
    */
  private def requireValidBounds(m: Meta, lo: String, hi: String): Unit =
    requireValidBoundsAt(m.pad, lo, hi)

  private def requireValidBoundsAt(pad: Int, lo: String, hi: String): Unit = {
    requireValidBound(pad, "lo", lo)
    requireValidBound(pad, "hi", hi)
  }

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
    * string order, identity). Callers run [[requireValidBoundsAt]] first
    * — the width check lives THERE, so this never has to silently clamp.
    */
  private def padBound(v: String, pad: Int): String =
    if (pad > 0) ("0" * (pad - v.length)) + v else v

  /** [[lookup]] with an optional PINNED version: `asOf = Some(seq)`
    * makes the whole lookup (staleness check, tail span, verification
    * re-reads) read as of that seq instead of probing latestSeq itself —
    * the hook [[lookupCovered]] uses so its candidate selection and wide
    * re-read share ONE version instead of racing two latestSeq probes
    * against concurrent commits.
    */
  private def lookupAt(spark: SparkSession, path: String, name: String,
      lo: String, hi: String, inPushdownCap: Int,
      asOf: Option[Long]): DataFrame = {
    import spark.implicits._
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val m = meta(fs, table, name).getOrElse(throw new IllegalArgumentException(
      s"graft-kv index: no index '$name' on $path"))
    require(!m.composite,
      s"graft-kv index: '$name' is a composite index — a single-qualifier " +
        "lookup over it would drop rows lacking the other key components; " +
        "use lookupComposite() with one bound per component")
    requireValidBounds(m, lo, hi)
    val (loPad, hiPad) = (padBound(lo, m.pad), padBound(hi, m.pad))

    // COVERED fast path: a covered index whose covered seq IS the base's
    // latest seq holds exactly one entry per current base row (the exact
    // refresh invariant), so the range answer is served INDEX-ONLY —
    // zero base file opens, the Phoenix covered-read shape. The
    // staleness check is the one latestSeq manifest read below.
    val latest = asOf.getOrElse(KvLog.latestSeq(fs, table))
    if (m.covered && latest <= m.asOfSeq)
      return coveredRead(spark, table, m, loPad, hiPad)
        .select(col("rowKey"), col("value"))

    // 1. Index candidates: a rowKey range scan on the index table —
    //    manifest bounds + record filter prune; value() carries the base
    //    key so no string parsing on the hot path. The NUL separator
    //    makes [loPad, hiPad) on index keys EXACTLY the value range.
    //    (`qualifier = 'k'` is a no-op on plain indexes and skips a
    //    covered index's value/include payload cells.)
    val idxCand = spark.read.format("graft-kv")
      .load(indexDir(table, name).toString)
      .filter(col("rowKey") >= loPad && col("rowKey") < hiPad &&
        col("qualifier") === "k")
      .select(decode(col("value"), "UTF-8").as("rowKey"))

    // 2. Tail candidates: base changes the index has not absorbed,
    //    PINNED to the latest seq the unservable-span probe read — a
    //    resalt landing between probe and plan time would otherwise fail
    //    the read the fallback branch exists to serve. Unservable spans
    //    are served from a full base scan instead: slower, never wrong;
    //    the next refresh rebuilds.
    def inRange(df: DataFrame): DataFrame = {
      val pv = paddedValue(guardedValue(decode(col("value"), "UTF-8"), m.pad),
        m.pad)
      df.filter(pv >= loPad && pv < hiPad).select(col("rowKey"))
    }
    val tailCand =
      if (latest <= m.asOfSeq) Seq.empty[String].toDF("rowKey")
      else if (spanUnservable(fs, table, m.asOfSeq, latest))
        inRange(baseCells(spark, path, m,
          Map("asOfSeq" -> latest.toString)))
      else inRange(baseCells(spark, path, m, Map(
        "sinceSeq" -> m.asOfSeq.toString, "asOfSeq" -> latest.toString)))

    // Duplicate keys (multiple versions) are NOT deduped here: the probe
    // below is a plain limit (no shuffle), and both verification paths
    // dedupe anyway — driver-side distinct for the In list, the
    // left-semi join by construction. On the over-cap path the join
    // re-evaluates `candidates` — the probe itself was limit-truncated
    // (CollectLimit stops at cap+1 matches), so the repeat costs one
    // truncated prefix, not a second full pass.
    val candidates = idxCand.unionByName(tailCand)

    // 3. Verify against the base AS OF the PINNED seq — the same `latest`
    //    the tail span ends at, so the whole lookup is snapshot-consistent
    //    as of one version (an unpinned current read here would let a
    //    commit landing mid-lookup produce a mixed-version answer: a row
    //    whose value left the range after `latest` excluded by the new
    //    view while a row that entered after `latest` is missed by the
    //    old one). Bounded candidate sets go back as a pushed In —
    //    per-key bloom-pruned gets, the point-lookup shape; larger sets
    //    verify via a join over one family scan (still correct — the
    //    index then only saved the driver the value filter, which is the
    //    honest cost of a low-selectivity query).
    val pinned = Map("asOfSeq" -> latest.toString)
    val probe = candidates.limit(inPushdownCap + 1).collect()
    val verified =
      if (probe.isEmpty)
        return Seq.empty[(String, String)].toDF("rowKey", "value")
      else if (probe.length <= inPushdownCap) {
        val keys = probe.map(_.getString(0)).distinct
        baseCells(spark, path, m, pinned)
          .filter(col("rowKey").isin(keys.toIndexedSeq: _*))
      } else {
        baseCells(spark, path, m, pinned)
          .join(candidates, Seq("rowKey"), "left_semi")
      }
    verified
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(col("value"), col("ts")),
        "UTF-8").as("value"))
      .filter(paddedValue(guardedValue(col("value"), m.pad), m.pad) >= loPad &&
        paddedValue(guardedValue(col("value"), m.pad), m.pad) < hiPad)
  }

  /** The INDEX-ONLY range read of a covered index: one pruned index scan
    * (delete masking hides tombstoned entries inside the scan), one LWW
    * group per entry — base table untouched. `[loPad, hiPad)` bounds the
    * LEADING component: the prefix-free NUL encoding makes the encoded
    * range exactly the leading-component range. Output: `rowKey` (base
    * key), `value` (leading component value), one decoded string column
    * per non-leading key component (named by its qualifier, never null)
    * and per `include` qualifier (null where the base row lacks it).
    */
  private def coveredRead(spark: SparkSession, table: Path, m: Meta,
      loPad: String, hiPad: String): DataFrame = {
    val extra = m.rest.map(_._1) ++ m.include
    LwwSlots.byRowKey(
      spark.read.format("graft-kv").load(indexDir(table, m.name).toString)
        .filter(col("rowKey") >= loPad && col("rowKey") < hiPad),
      entryColumns(extra))
      .filter(col("_k").isNotNull)
      .select(decode(col("_k"), "UTF-8").as("rowKey") +:
        decode(col("_v"), "UTF-8").as("value") +:
        extra.map(q => decode(col(s"_q$q"), "UTF-8").as(q)): _*)
  }

  /** Covered lookup: [[lookup]]'s answer plus one column per `include`
    * qualifier (current value, null where absent). FRESH (covered seq ==
    * latest): served index-only — the counting-FS spec pins zero base
    * data-file opens. STALE: candidates come from the index ∪ CDC tail
    * exactly like [[lookup]], and the verification re-read widens to the
    * covered qualifiers so the answer's extra columns are as current as
    * its rows.
    */
  def lookupCovered(spark: SparkSession, path: String, name: String,
      lo: String, hi: String, inPushdownCap: Int = InPushdownCap): DataFrame = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val m = meta(fs, table, name).getOrElse(throw new IllegalArgumentException(
      s"graft-kv index: no index '$name' on $path"))
    require(m.covered,
      s"graft-kv index: '$name' is not a covered index — create it with " +
        "include/covered, or use lookup()")
    require(!m.composite,
      s"graft-kv index: '$name' is a composite index — use " +
        "lookupComposite() with one bound per component")
    // Same bound refusal as lookup(): an invalid decimal bound must fail
    // identically on the fresh index-only path and the stale verified
    // path — behavior must not depend on maintenance timing.
    requireValidBounds(m, lo, hi)
    val (loPad, hiPad) = (padBound(lo, m.pad), padBound(hi, m.pad))
    val latest = KvLog.latestSeq(fs, table)
    if (latest <= m.asOfSeq) return coveredRead(spark, table, m, loPad, hiPad)
    // Stale: verified wide read over lookup's candidate keys, with the
    // WHOLE covered lookup — candidate selection and wide re-read —
    // pinned to the one `latest` probed above (lookupAt takes it as
    // asOf rather than re-probing), so a commit landing between two
    // latestSeq probes cannot yield a mixed-version answer.
    val keys = lookupAt(spark, path, name, lo, hi, inPushdownCap,
      asOf = Some(latest))
      .select(col("rowKey"))
    currentWide(spark, path, m, Map("asOfSeq" -> latest.toString))
      .join(keys, Seq("rowKey"), "left_semi")
      .select(col("rowKey") +:
        decode(col("_v0"), "UTF-8").as("value") +:
        m.include.zipWithIndex.map { case (q, i) =>
          decode(col(s"_v${i + 1}"), "UTF-8").as(q)
        }: _*)
  }

  /** INDEX-SERVED TOP-N — the Phoenix ORDER-BY-elimination shape: the k
    * extreme base rows by CURRENT value (optionally restricted to a
    * `[lo, hi)` value `range`), served from the value-ordered COVERED
    * index. FRESH (covered seq == base latest): exact maintenance means
    * the index holds exactly one logical entry per current base row, so
    * its key order IS the (value, rowKey) order and its head/tail IS
    * the answer — ZERO base data-file opens, no verification read.
    *
    * STALE (r18): the answer no longer requires a refresh. Every base
    * change since the covered seq lives in the CDC span
    * `(asOfSeq, latest]`, so the true top-k is covered by
    *  - the top `k + T` STALE index entries (T = distinct base keys the
    *    span touched): an unchanged row in the true top-k can be
    *    out-ranked in the index only by at-most-(k-1) other unchanged
    *    top rows plus at most T since-invalidated entries, and
    *  - the T touched keys themselves (rows that moved INTO the top).
    * The union is verified against the base PINNED at the probed seq
    * (re-pivot, re-rank, take k) — the same verified-candidate contract
    * as [[lookup]], so the index serves O(k + changes) base gets on a
    * LIVE table instead of silently demanding a refresh
    * (AvroReader.java:27-30's limit semantics: inspection stays O(k)).
    * Degraded paths are never wrong, only slower: an unservable CDC
    * span, a touched set past [[InPushdownCap]], or an over-fetch past
    * [[MaxTopNFetch]] all fall back to the pinned base pivot sort.
    * A PLAIN (append-only) index never serves: its superseded entries
    * accumulate without bound, so no CDC span bounds the invalidated
    * count (refused loudly — the fix is a covered index).
    *
    * Scale shape (fresh path): the fetch is a pushed cell-level TopN
    * over the index scan (each region file contributes O(L) rows from
    * its head — or tail row groups for DESC), L = (k+1)·(2+|include|)
    * cells, so the read is O(k·files), never O(index). The boundary
    * entry of the fetched prefix may be cell-truncated; it is dropped
    * by the `_k AND _v present` filter and the over-fetch guarantees k
    * complete entries remain whenever the index has them. Ties in
    * `value` break by base rowKey (the encoded key's suffix) — in scan
    * direction, so DESC ties take the largest keys first.
    *
    * Output: `(rowKey, value)`, ordered by the index key in scan
    * direction. Decimal mode (pad > 0) orders numerically (padded keys);
    * string mode orders lexicographically — the same collation contract
    * as [[lookup]] bounds, which `range` shares.
    *
    * `wide` serves the MULTI-qualifier pivot (r18): rows are the base
    * rows carrying ANY of (leading qualifier ∪ `include`), output is
    * `(rowKey, value, <include columns>)`, ordered by the LEADING value.
    * The null-ordering boundary is where this differs from the
    * single-qualifier shape: a row with only include qualifiers pivots
    * with a NULL leading value, which the index (entries exist only for
    * leading-carrying rows) cannot see. Served index-first exactly where
    * nulls provably cannot reach the k-set (the wide null guards):
    *  - any `[lo, hi)` bound excludes null-leading rows on BOTH sides
    *    (the pivot's CAST comparison nulls them out too) — both
    *    directions serve;
    *  - BARE + DESC (nulls last): the head serves IFF it yields k full
    *    rows — fewer means the true answer pads with null-leading rows,
    *    probed by one O(k·files) count and answered by the exact wide
    *    pivot instead;
    *  - BARE + ASC (nulls FIRST): the true head IS the null-leading
    *    rows — always the exact wide pivot ([[KvIndexRouting]] declines
    *    this shape, so routed plans never pay it blindly).
    * Unlike the single-qualifier fresh path, wide mode may run bounded
    * probe jobs at call time (the lookup-shape contract).
    */
  def topNCovered(spark: SparkSession, path: String, name: String, k: Int,
      desc: Boolean = true,
      lo: Option[String] = None, hi: Option[String] = None,
      wide: Boolean = false): DataFrame = {
    import spark.implicits._
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val m = meta(fs, table, name).getOrElse(throw new IllegalArgumentException(
      s"graft-kv index: no index '$name' on $path"))
    require(m.covered,
      s"graft-kv index: '$name' is not exactly maintained (covered) — a " +
        "plain index holds superseded entries whose stale values would " +
        "out-rank current ones; top-n needs a covered index")
    require(!m.composite,
      s"graft-kv index: '$name' is a composite index — its entries exist " +
        "only for rows carrying ALL key components, the wrong row set for " +
        "a single-column top-n")
    require(k >= 1, s"graft-kv index: top-n k must be >= 1, got $k")
    // Either bound may be open (None): `value >= x ORDER BY value LIMIT
    // k` has no upper bound. Validation and padding are per-bound.
    lo.foreach(requireValidBound(m.pad, "lo", _))
    hi.foreach(requireValidBound(m.pad, "hi", _))
    val loPad = lo.map(padBound(_, m.pad))
    val hiPad = hi.map(padBound(_, m.pad))
    val perEntry = 2 + m.include.length
    val fetch = (k.toLong + 1) * perEntry
    require(fetch <= MaxTopNFetch,
      s"graft-kv index: top-n k=$k needs a $fetch-cell index prefix — " +
        s"beyond the $MaxTopNFetch inspection bound; run the pivot sort " +
        "for result sets this large")
    val latest = KvLog.latestSeq(fs, table)
    val key = if (desc) col("rowKey").desc else col("rowKey").asc
    // The prefix-free NUL encoding makes the encoded-key range exactly
    // the leading-value range ([[coveredRead]]), so the bounds are a
    // pruned rowKey predicate on the index scan.
    def indexScan = {
      val base = spark.read.format("graft-kv")
        .load(indexDir(table, m.name).toString)
      val lod = loPad.foldLeft(base)((df, l) => df.filter(col("rowKey") >= l))
      hiPad.foldLeft(lod)((df, h) => df.filter(col("rowKey") < h))
    }
    // Top `n` complete index entries' BASE keys plus (fresh path) values.
    def indexTop(n: Long, cells: Long) = LwwSlots.byRowKey(
        indexScan.orderBy(key).limit(cells.toInt), // pushed TopN: O(k) rows per file
        entryColumns(Nil))
      .filter(col("_k").isNotNull && col("_v").isNotNull)
      .orderBy(key).limit(n.toInt)

    // ---- WIDE machinery ([[topNCovered]] `wide` doc): the
    // multi-qualifier pivot's output, ranking, and exact fallback. ----
    val pvW = paddedValue(guardedValue(col("value"), m.pad), m.pad)
    /** Bounds + order + limit over a wide (rowKey, value, includes)
      * frame; null leading values sort with the direction default
      * (DESC → last), matching the pivot's Sort.
      */
    def rankWide(df: DataFrame): DataFrame = {
      val lod = loPad.foldLeft(df)((d, l) => d.filter(pvW >= l))
      val both = hiPad.foldLeft(lod)((d, h) => d.filter(pvW < h))
      val ordW = if (desc) Seq(pvW.desc, col("rowKey").desc)
        else Seq(pvW.asc, col("rowKey").asc)
      both.orderBy(ordW: _*).limit(k)
    }
    /** The EXACT wide pivot over (leading ∪ include) — rows carrying any
      * of the qualifiers, null where absent — restricted by `narrow`
      * (identity = the whole table: the exact fallback).
      */
    def wideFrame(opts: Map[String, String],
        narrow: DataFrame => DataFrame): DataFrame = {
      val quals = m.qualifier +: m.include
      LwwSlots.byRowKey(narrow(KvRead.cells(spark, path, opts)
          .filter(col("family") === m.family && col("qualifier").isin(quals: _*))),
        quals.zipWithIndex.map { case (q, i) => (q, s"_w$i") })
        .select(col("rowKey") +: quals.zipWithIndex.map { case (q, i) =>
          decode(col(s"_w$i"), "UTF-8").as(if (i == 0) "value" else q) }: _*)
    }
    def wideExact(opts: Map[String, String]): DataFrame =
      rankWide(wideFrame(opts, identity))
    // Wide null guards ([[topNCovered]] `wide` doc), applied at each
    // serve site: any bound excludes null-leading rows on both sides;
    // bare DESC serves only a k-full probed set; bare ASC never serves.

    // Serve the PROBE's own rows when a k-full check had to run (the
    // bare-DESC wide guard): re-executing the probed frame would pay
    // the whole ranked job twice — its ≤ k collected rows ARE the
    // answer when the guard passes.
    def served(rows: Array[org.apache.spark.sql.Row],
        schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)

    if (latest <= m.asOfSeq) {
      if (!wide)
        return indexTop(k, fetch)
          .select(decode(col("_k"), "UTF-8").as("rowKey"),
            decode(col("_v"), "UTF-8").as("value"))
      val head = LwwSlots.byRowKey(indexScan.orderBy(key).limit(fetch.toInt),
          entryColumns(m.include))
        .filter(col("_k").isNotNull && col("_v").isNotNull)
        .orderBy(key).limit(k)
        .select(decode(col("_k"), "UTF-8").as("rowKey") +:
          decode(col("_v"), "UTF-8").as("value") +:
          m.include.map(q => decode(col(s"_q$q"), "UTF-8").as(q)): _*)
      if (lo.isDefined || hi.isDefined) return head // bounds exclude nulls
      // includeOnly == 0 ([[Meta]] doc): no pivot row lacks the leading
      // qualifier, so the index sees EVERY row — the bare head is exact
      // in both directions, no probe, no fallback (r19: the ASC serve).
      if (m.includeOnly.contains(0L)) return head
      if (!desc) return wideExact(Map("asOfSeq" -> latest.toString))
      val rows = head.collect()
      return if (rows.length == k) served(rows, head.schema)
        else wideExact(Map("asOfSeq" -> latest.toString))
    }

    // ---- STALE paths: pinned to `latest`, never wrong, k-exact. ----
    val pinned = Map("asOfSeq" -> latest.toString)
    val pv = paddedValue(guardedValue(col("value"), m.pad), m.pad)
    val ord = if (desc) Seq(pv.desc, col("rowKey").desc)
      else Seq(pv.asc, col("rowKey").asc)
    def rankK(piv: DataFrame): DataFrame = {
      val lod = loPad.foldLeft(piv)((df, l) => df.filter(pv >= l))
      hiPad.foldLeft(lod)((df, h) => df.filter(pv < h))
        .orderBy(ord: _*).limit(k).select(col("rowKey"), col("value"))
    }
    def basePivot(): DataFrame =
      if (wide) wideExact(pinned)
      else rankK(
        baseCells(spark, path, m, pinned)
          .groupBy(col("rowKey"))
          .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
            col("value"), col("ts")), "UTF-8").as("value")))
    val (touched, overFetch) = staleTopNInputs(spark, path, fs, table, m,
      latest, k, perEntry) match {
      case Some(x) => x
      case None => return basePivot()
    }
    val idxCand = indexTop(k.toLong + touched.length, overFetch)
      .select(decode(col("_k"), "UTF-8").as("rowKey"))
    // Candidate count is BOUNDED a priori (≤ k + 2T), so the In-vs-join
    // decision needs no truncating probe (a truncated candidate list
    // routed through `isin` would silently drop real candidates): small
    // sets collect fully and push per-key gets, larger ones verify via
    // one left-semi join over the pinned family scan.
    val candidates = idxCand.unionByName(touched.toSeq.toDF("rowKey"))
    val small = k.toLong + 2L * touched.length <= InPushdownCap
    lazy val candKeys = candidates.collect().map(_.getString(0)).distinct
    if (wide) {
      // candidate-restricted wide pivot, pinned; superset of the true
      // non-null-leading top-k by the same over-fetch argument, so the
      // k-set is exact exactly where the null guards prove nulls out
      // ([[topNCovered]] `wide` doc); the bare-DESC guard serves its own
      // probed rows (`served`) instead of re-running the ranked job
      def narrow(cells: DataFrame): DataFrame =
        if (small) cells.filter(col("rowKey").isin(candKeys.toIndexedSeq: _*))
        else cells.join(candidates, Seq("rowKey"), "left_semi")
      val ranked = rankWide(wideFrame(pinned, narrow))
      if (lo.isDefined || hi.isDefined) return ranked
      // includeOnly == 0 AT asOfSeq: any null-leading pivot row at the
      // probed version must have CHANGED in the span — it is a touched
      // key, so it is in the candidate frame, which wideFrame keeps
      // (no leading filter) and rankWide orders with the direction
      // default. The ranked candidate set therefore contains the true
      // top-k for BOTH directions — serve it without the probe.
      if (m.includeOnly.contains(0L)) return ranked
      if (!desc) return wideExact(pinned)
      val rows = ranked.collect()
      // any null leading value inside the k-set means fewer than k
      // non-null rows exist globally (candidates ⊇ the non-null top-k),
      // so the true answer pads with null rows only the exact pivot sees
      return if (rows.length == k && rows.forall(!_.isNullAt(1)))
        served(rows, ranked.schema)
      else wideExact(pinned)
    }
    val verified =
      if (small)
        baseCells(spark, path, m, pinned)
          .filter(col("rowKey").isin(candKeys.toIndexedSeq: _*))
      else baseCells(spark, path, m, pinned)
        .join(candidates, Seq("rowKey"), "left_semi")
    rankK(verified.groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value")))
  }

  /** INDEX-SERVED COMPOSITE TOP-N (r19 — the Phoenix ORDER-BY-elimination
    * shape over a multi-column collation): `ORDER BY c1, c2... [DESC]
    * LIMIT k` with a range bound on EVERY key component, served from a
    * composite index. The NUL-joined prefix-free encoding makes encoded
    * key order EXACTLY component-tuple order ([[Meta]] doc) — in both
    * directions (the reverse of a total order reverses every component
    * simultaneously) — so the ordered k-head of the bounded index range
    * IS the pivot's top-k, ties broken by base rowKey in scan direction.
    *
    * NULL soundness — why >= 1 bound side per component is REQUIRED, not
    * a cost choice: a pivot row missing SOME component pivots with NULL
    * there and ranks mid-stream under a multi-column sort — e.g.
    * `(9, NULL)` out-ranks `(5, 3)` under `DESC` nulls-last — while the
    * index cannot see it (entries exist only for rows carrying ALL
    * components), and no k-full probe can bound it the way the
    * single-column wide guard does. Any one-sided bound on a component
    * nulls such rows out of the pivot's own comparison too, so with a
    * bound per component the pivot's qualifying rows are EXACTLY the
    * index's in-bounds entries — both directions serve, no null left to
    * order.
    *
    * FRESH (covered seq == latest): ONE index scan — the leading bound
    * prunes through the encoded key range, non-leading bounds filter the
    * entry key's NUL segments (whole entries, all cells share the key),
    * and a pushed TopN fetches a `(k+1) * perEntry`-cell prefix (the
    * same truncation-guard over-fetch as [[topNCovered]]: the limit can
    * cut only the LAST entry of the prefix, so the first k are whole).
    * STALE: the [[topNCovered]] over-fetch argument, component-agnostic —
    * candidates = the bounded index head of `k + T` entries (an
    * untouched true-top-k row sits above at most `k-1` untouched and `T`
    * touched entries, so inside the head) ∪ the span's touched keys (any
    * component change can move a row INTO the bounds), one verified wide
    * re-read PINNED to the probed seq, exact re-rank. Degraded spans
    * fall back to the pinned wide pivot: slower, never wrong.
    *
    * Output: `(rowKey, value, <non-leading components...>,
    * <includes...>)` — [[lookupComposite]]'s positional schema — the
    * top-k rows in scan direction. Reference tie: the same
    * AvroReader.java:27-30 inspection-limit semantics the single-column
    * route serves, over a composite collation.
    */
  def topNComposite(spark: SparkSession, path: String, name: String,
      k: Int, desc: Boolean,
      bounds: Seq[(Option[String], Option[String])]): DataFrame = {
    import spark.implicits._
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val m = meta(fs, table, name).getOrElse(throw new IllegalArgumentException(
      s"graft-kv index: no index '$name' on $path"))
    require(m.composite,
      s"graft-kv index: '$name' is a single-component index — use " +
        "topNCovered()")
    require(k >= 1, s"graft-kv index: top-n k must be >= 1, got $k")
    require(bounds.length == m.keyQuals.length,
      s"graft-kv index: '$name' has ${m.keyQuals.length} key components " +
        s"(${m.keyQuals.mkString(", ")}); got ${bounds.length} bounds")
    bounds.zip(m.pads).foreach { case ((lo, hi), p) =>
      lo.foreach(requireValidBound(p, "lo", _))
      hi.foreach(requireValidBound(p, "hi", _))
    }
    // A fully-open component admits PARTIAL rows (that component NULL)
    // into the pivot — invisible to the inner-join index, mid-stream
    // under a multi-column sort. With every component bounded the wall
    // is the bounds themselves; open components serve only where the
    // maintained partial-key stat ([[Meta.includeOnly]]) proves, or the
    // candidate frame covers, those rows — tracked via `anyOpen` at each
    // serve site below, with the exact any-frame pivot as the fallback.
    val anyOpen = bounds.exists { case (lo, hi) => lo.isEmpty && hi.isEmpty }
    val pb = bounds.zip(m.pads).map { case ((lo, hi), p) =>
      (lo.map(padBound(_, p)), hi.map(padBound(_, p)))
    }
    val nComp = m.keyQuals.length
    val perEntry = 2 + (nComp - 1) + m.include.length
    val fetch = (k.toLong + 1) * perEntry
    require(fetch <= MaxTopNFetch,
      s"graft-kv index: top-n k=$k needs a $fetch-cell index prefix — " +
        s"beyond the $MaxTopNFetch inspection bound; run the pivot sort " +
        "for result sets this large")
    val latest = KvLog.latestSeq(fs, table)
    val key = if (desc) col("rowKey").desc else col("rowKey").asc
    val payloadQuals = m.rest.map(_._1) ++ m.include

    // Bounded index scan: the leading bound IS an encoded-key range (a
    // no-NUL bound b satisfies `encoded >= b <=> v1 >= b` and
    // `encoded < b <=> v1 < b` — the NUL terminator sorts below every
    // bound byte), non-leading bounds filter the key's NUL segments.
    def indexScan = {
      val base = spark.read.format("graft-kv")
        .load(indexDir(table, m.name).toString)
      val leadLo = pb.head._1.foldLeft(base)((df, l) =>
        df.filter(col("rowKey") >= l))
      val lead = pb.head._2.foldLeft(leadLo)((df, h) =>
        df.filter(col("rowKey") < h))
      (1 until nComp).foldLeft(lead) { (df, i) =>
        val seg = element_at(split(col("rowKey"), Sep), i + 1)
        val lod = pb(i)._1.foldLeft(df)((d, l) => d.filter(seg >= l))
        pb(i)._2.foldLeft(lod)((d, h) => d.filter(seg < h))
      }
    }
    // Top `n` complete in-bounds entries (grouped cells; `_k`/`_v`
    // non-null drops the one possibly-truncated boundary entry).
    def indexTopEntries(n: Long, cells: Long) = {
      LwwSlots.byRowKey(indexScan.orderBy(key).limit(cells.toInt),
          entryColumns(payloadQuals))
        .filter(col("_k").isNotNull && col("_v").isNotNull)
        .orderBy(key).limit(n.toInt)
    }
    def project(df: DataFrame): DataFrame =
      df.select(decode(col("_k"), "UTF-8").as("rowKey") +:
        decode(col("_v"), "UTF-8").as("value") +:
        payloadQuals.map(q => decode(col(s"_q$q"), "UTF-8").as(q)): _*)

    // Serve frames under open components must KEEP partial rows (the
    // pivot ranks them; bounded components exclude them anyway).
    def frame(opts: Map[String, String]): DataFrame =
      if (anyOpen) currentWideAny(spark, path, m, opts)
      else currentWide(spark, path, m, opts)
    // no-partials proof for the open shapes: the stat at the covered seq
    val provenFull = m.includeOnly.contains(0L)
    // bounds + tuple order + limit over a wide frame, then the composite
    // projection ([[compositeAnswer]]'s shape with rank); open components
    // contribute no filter and their NULLs order with the direction
    // default — exactly the pivot's Sort
    def rankComposite(wide: DataFrame): DataFrame = {
      val compPad = m.keyQuals.indices.map(i =>
        paddedValue(checkedComponent(col(s"_v$i"), m.pads(i)), m.pads(i)))
      val bounded = m.keyQuals.indices.foldLeft(wide) { (df, i) =>
        val lod = pb(i)._1.foldLeft(df)((d, l) => d.filter(compPad(i) >= l))
        pb(i)._2.foldLeft(lod)((d, h) => d.filter(compPad(i) < h))
      }
      val ord = compPad.map(c => if (desc) c.desc else c.asc) :+ key
      bounded.orderBy(ord: _*).limit(k)
        .select(col("rowKey") +:
          decode(col("_v0"), "UTF-8").as("value") +:
          (m.rest.map(_._1).zipWithIndex.map { case (q, i) =>
            decode(col(s"_v${i + 1}"), "UTF-8").as(q)
          } ++ m.include.zipWithIndex.map { case (q, i) =>
            decode(col(s"_v${nComp + i}"), "UTF-8").as(q)
          }): _*)
    }

    if (latest <= m.asOfSeq) {
      if (!anyOpen || provenFull)
        return project(indexTopEntries(k, fetch))
      // open component, partials exist: the exact any-frame pivot IS the
      // answer (the index cannot rank the partial rows)
      return rankComposite(frame(Map("asOfSeq" -> latest.toString)))
    }

    // ---- STALE paths: pinned to `latest`, never wrong, k-exact. ----
    val pinned = Map("asOfSeq" -> latest.toString)
    def basePivot(): DataFrame = rankComposite(frame(pinned))
    // open components without the no-partials proof: the candidate
    // over-fetch argument needs "every partial row at `latest` is a
    // touched key", which only holds from a partial-free covered seq —
    // the exact pivot is the honest plan
    if (anyOpen && !provenFull) return basePivot()
    val (touched, overFetch) = staleTopNInputs(spark, path, fs, table, m,
      latest, k, perEntry) match {
      case Some(x) => x
      case None => return basePivot()
    }
    val idxCand = indexTopEntries(k.toLong + touched.length, overFetch)
      .select(decode(col("_k"), "UTF-8").as("rowKey"))
    val candidates = idxCand.unionByName(touched.toSeq.toDF("rowKey"))
    val small = k.toLong + 2L * touched.length <= InPushdownCap
    val wideAll = frame(pinned)
    val verified =
      if (small) {
        val candKeys = candidates.collect().map(_.getString(0)).distinct
        wideAll.filter(col("rowKey").isin(candKeys.toIndexedSeq: _*))
      } else wideAll.join(candidates, Seq("rowKey"), "left_semi")
    rankComposite(verified)
  }

  /** COMPOSITE lookup: one `[lo, hi)` bound per key component (string
    * order; numeric order for decimal-mode components). Returns `rowKey`,
    * `value` (leading component), one column per non-leading key
    * component and per `include` qualifier — always the CURRENT values.
    *
    * FRESH (covered seq == latest): served INDEX-ONLY in ONE index scan —
    * the leading bound prunes the scan through the encoded key range
    * (prefix-free NUL encoding), the remaining component predicates
    * filter the entry payload; zero base file opens. STALE: candidates =
    * index entries in the encoded range whose embedded components match
    * (parsed from the entry key — already padded, so the comparison is
    * direct) ∪ base keys the CDC tail touched on ANY key component (a
    * change to component 2 can move a row INTO the range, so every
    * touched key is a candidate), then one verified wide re-read PINNED
    * to the probed seq — the same snapshot-consistency contract as
    * [[lookup]]. An unservable tail span degrades to the full wide scan:
    * slower, never wrong.
    */
  def lookupComposite(spark: SparkSession, path: String, name: String,
      bounds: Seq[(String, String)],
      inPushdownCap: Int = InPushdownCap): DataFrame = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val m = meta(fs, table, name).getOrElse(throw new IllegalArgumentException(
      s"graft-kv index: no index '$name' on $path"))
    require(m.composite,
      s"graft-kv index: '$name' is a single-component index — use " +
        "lookup()/lookupCovered()")
    require(bounds.length == m.keyQuals.length,
      s"graft-kv index: '$name' has ${m.keyQuals.length} key components " +
        s"(${m.keyQuals.mkString(", ")}); got ${bounds.length} bounds")
    bounds.zip(m.pads).foreach { case ((lo, hi), p) =>
      requireValidBoundsAt(p, lo, hi) }
    val pb = bounds.zip(m.pads).map { case ((lo, hi), p) =>
      (padBound(lo, p), padBound(hi, p))
    }
    val (lo1, hi1) = pb.head
    val k = m.keyQuals.length
    // Non-leading component predicates over PADDED string columns (the
    // caller of `colOf` supplies each component already padded).
    def restMatch(colOf: Int => org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      (1 until k).map { i =>
        val (lo, hi) = pb(i)
        colOf(i) >= lo && colOf(i) < hi
      }.reduce(_ && _) // k >= 2: a composite index has at least two components

    val latest = KvLog.latestSeq(fs, table)
    if (latest <= m.asOfSeq)
      return coveredRead(spark, table, m, lo1, hi1)
        .filter(restMatch(i =>
          paddedValue(col(m.keyQuals(i)), m.pads(i))))

    // STALE path (doc above). Entry keys parse positionally: component i
    // is the i-th NUL-separated segment, stored padded.
    val idxCand = spark.read.format("graft-kv")
      .load(indexDir(table, name).toString)
      .filter(col("rowKey") >= lo1 && col("rowKey") < hi1 &&
        col("qualifier") === "k")
      .filter(restMatch(i => element_at(split(col("rowKey"), Sep), i + 1)))
      .select(decode(col("value"), "UTF-8").as("rowKey"))
    val pinned = Map("asOfSeq" -> latest.toString)
    val wideAll = currentWide(spark, path, m, pinned)
    val verifiedWide =
      if (spanUnservable(fs, table, m.asOfSeq, latest)) wideAll
      else {
        val tailCand = spark.read.format("graft-kv")
          .option("sinceSeq", m.asOfSeq.toString)
          .option("asOfSeq", latest.toString).load(path)
          .filter(col("family") === m.family &&
            col("qualifier").isin(m.keyQuals: _*))
          .select(col("rowKey"))
        val candidates = idxCand.unionByName(tailCand)
        val probe = candidates.limit(inPushdownCap + 1).collect()
        if (probe.isEmpty)
          // optimizer folds Filter(false) to an empty relation with the
          // exact output schema of the fresh path
          return coveredRead(spark, table, m, lo1, hi1).filter(lit(false))
        else if (probe.length <= inPushdownCap) {
          val keys = probe.map(_.getString(0)).distinct
          wideAll.filter(col("rowKey").isin(keys.toIndexedSeq: _*))
        } else wideAll.join(candidates, Seq("rowKey"), "left_semi")
      }
    compositeAnswer(m, verifiedWide, pb)
  }

  /** One wide relation → the composite answer: all component bounds
    * applied over the padded (and decimal-guarded) current values, then
    * the `rowKey, value, <components...>, <includes...>` projection —
    * the tail both the stale verified path and the index-free scan plan
    * share.
    */
  private def compositeAnswer(m: Meta, wide: DataFrame,
      pb: Seq[(String, String)]): DataFrame = {
    val k = m.keyQuals.length
    val compPad = m.keyQuals.indices.map(i =>
      paddedValue(checkedComponent(col(s"_v$i"), m.pads(i)), m.pads(i)))
    wide
      .filter(m.keyQuals.indices.map { i =>
        compPad(i) >= pb(i)._1 && compPad(i) < pb(i)._2
      }.reduce(_ && _))
      .select(col("rowKey") +:
        decode(col("_v0"), "UTF-8").as("value") +:
        (m.rest.map(_._1).zipWithIndex.map { case (q, i) =>
          decode(col(s"_v${i + 1}"), "UTF-8").as(q)
        } ++
          m.include.zipWithIndex.map { case (q, i) =>
            decode(col(s"_v${k + i}"), "UTF-8").as(q)
          }): _*)
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
      preds: Seq[(String, String, String)], pads: Seq[Int] = Nil,
      inPushdownCap: Int = InPushdownCap): DataFrame = {
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
    KvIndex.list(fs, table).find(i => i.family == family && i.composite &&
      i.keyQuals.length == preds.length && i.keyQuals.toSet == qualSet) match {
      case Some(m) =>
        if (pads.nonEmpty) m.keyQuals.zip(m.pads).foreach { case (q, p) =>
          require(declaredPads(q) == p,
            s"graft-kv index: declared pad ${declaredPads(q)} for '$q' " +
              s"contradicts index '${m.name}' (pad=$p)")
        }
        val ordered = m.keyQuals.map(byQual)
        // bounds validate before padding — the cost probe must refuse the
        // same inputs the lookup itself would
        m.keyQuals.zip(m.pads).foreach { case (q, pd) =>
          val (lo, hi) = byQual(q)
          requireValidBoundsAt(pd, lo, hi)
        }
        val (lo1, hi1) = (padBound(ordered.head._1, m.pad),
          padBound(ordered.head._2, m.pad))
        if (rangeIsSelective(fs, table, m, lo1, hi1))
          lookupComposite(spark, path, m.name, ordered, inPushdownCap)
        else {
          val pb = m.keyQuals.zip(m.pads).map { case (q, p) =>
            val (lo, hi) = byQual(q)
            (padBound(lo, p), padBound(hi, p))
          }
          compositeAnswer(m, currentWide(spark, path, m, Map.empty), pb)
        }
      case None =>
        // index-free: synthesize the meta in PREDICATE order
        val head = preds.head._1
        val m = Meta("<scan>", family, head, declaredPads(head), -1L,
          rest = preds.tail.map(p => (p._1, declaredPads(p._1))),
          covered = true)
        val pb = m.keyQuals.zip(m.pads).map { case (q, p) =>
          val (lo, hi) = byQual(q)
          requireValidBoundsAt(p, lo, hi)
          (padBound(lo, p), padBound(hi, p))
        }
        compositeAnswer(m, currentWide(spark, path, m, Map.empty), pb)
    }
  }
}
