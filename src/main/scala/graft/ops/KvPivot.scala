package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** A1 (KV→row pivot) + A2 (last-write-wins) + P1–P4 projection policies.
  *
  * The reference's core operator is a streaming group-by-adjacent-rowKey that
  * accumulates `(qualifier → value)` and emits one record per row key
  * (ExportHBaseTableToDelimiteredTxt.java:148-164 + cleanup 124-129; same in
  * Seq/Avro/Parquet). It relies on HBase scan order and a one-row HashMap; we
  * re-express it as a declarative aggregate so Catalyst/Tungsten pick the
  * physical strategy (hash agg with partial/map-side combine → one shuffle on
  * rowKey, spill-safe at any scale). The reference's `lastRowKey`/cleanup bugs
  * (SURVEY §2.2) are structurally impossible here.
  *
  * Last-write-wins (A2): the reference's per-row `HashMap.put` lets the later
  * cell in scan order overwrite (Txt:159-163). We make that explicit and
  * deterministic: per qualifier, the value of the max-ts cell
  * ([[graft.functions.LwwSlots]]).
  */
object KvPivot {

  /** Pivot a cell table to one row per rowKey with one column per schema
    * column, in schema order (P1). One output row per scanned rowKey — like
    * the reference, a row whose cells all fall outside the schema still
    * emits (all fields empty/null, rowKey injected if configured,
    * Txt:148-164 emits per key change regardless of projection). Only the
    * column-family predicate prunes the scan (S2, Txt:73); qualifier
    * projection happens inside the aggregate, NOT as a row filter — a
    * pre-filter would silently drop such rows.
    *
    * @param cells       DataFrame with (rowKey, family, qualifier, value, ts)
    * @param columns     schema-file column order = output column order
    * @param rowKeyCol   P4: schema column that, when no cell provides it, is
    *                    filled with the row key (Txt:179-181, Parquet:180-181)
    * @param family      S2: optional column-family predicate (scan pushdown)
    */
  def pivot(
      cells: DataFrame,
      columns: Seq[String],
      rowKeyCol: Option[String] = None,
      family: Option[String] = None): DataFrame =
    // ONE aggregate for all schema columns: per row key, one slot per
    // distinct qualifier holding its max-ts cell's value; cells of other
    // qualifiers are skipped inside it. A TypedImperativeAggregate, so the
    // whole pivot is hash-based (ObjectHashAggregateExec), no sort on
    // either side of the exchange; the slots are projected back to the
    // schema columns after it.
    slotted(cells, columns, rowKeyCol, family)(graft.functions.LwwSlots.byRowKey)

  /** A1 WITHOUT a shuffle — the reference's map-only export restated
    * (SURVEY §7.4 optional strategy; Txt:85 `setNumReduceTasks(0)`).
    *
    * The reference never shuffles on export because HBase hands it cells
    * range-partitioned by region and sorted by rowKey; its streaming
    * adjacent-key group (Txt:148-164) exploits that. When OUR input holds the
    * same invariant — range-partitioned by rowKey, sorted within partitions
    * (e.g. [[graft.kv.RangeLayout.layout]] output, or a bucketed/sorted
    * table) — this operator pivots with a per-partition streaming group:
    * zero exchanges, O(one row's cells) memory, any scale. It fills the
    * same slots by the same winner test as [[pivot]]; only the grouping
    * differs.
    *
    * PRECONDITION (unchecked, like the reference's reliance on scan order):
    * all cells of a rowKey live in one partition, adjacent within it.
    * Use [[pivot]] when the invariant is not known to hold.
    */
  def pivotPresorted(
      cells: DataFrame,
      columns: Seq[String],
      rowKeyCol: Option[String] = None,
      family: Option[String] = None): DataFrame =
    slotted(cells, columns, rowKeyCol, family)(graft.functions.LwwSlots.byAdjacentRowKey)

  /** S2 family filter, `group` into the schema columns, P4 rowKey fill. */
  private def slotted(cells: DataFrame, columns: Seq[String], rowKeyCol: Option[String],
      family: Option[String])(group: (DataFrame, Seq[(String, String)]) => DataFrame) = {
    val scan = family.foldLeft(cells)((df, cf) => df.filter(col("family") === cf))
    val pivoted = group(scan, columns.map(c => (c, c)))
    rowKeyCol match {
      // P4: rowKey injection — only for the named column, only when absent.
      case Some(k) if columns.contains(k) => pivoted.withColumn(k,
        coalesce(col(k), col("rowKey").cast(cells.schema("value").dataType)))
      case _ => pivoted
    }
  }

  /** A1 with the ROUTE DECIDED BY THE TABLE, not the caller (the
    * optimizer-shaped default): consult the manifest-certified layout of
    * `path` and pivot with the exchange-free per-partition streaming
    * group when the table's layout proves it sound, falling back to the
    * ordinary hash pivot otherwise. What [[pivotPresorted]]'s unchecked
    * precondition made operator knowledge is now a metadata consult —
    * at 100 TB the zero-shuffle plan becomes what a user GETS on any
    * compacted (salted or not) table, instead of what an expert asks for.
    *
    * Routing ([[autoStrategy]], one driver-side manifest replay):
    *  - `presorted` — every live file carries manifest stats and the
    *    stored key ranges of the files that can EMIT rows are pairwise
    *    disjoint ([[graft.sources.KvTableInfo.keyContiguousRegions]] —
    *    salted tables certify through the contiguity tier). Live delete
    *    markers do NOT forfeit the route (r14): read-time masking drops
    *    rows IN-STREAM without reordering, so per-partition key
    *    contiguity survives, and a PURE-marker segment emits nothing —
    *    it is excluded from the disjointness check entirely. Only a
    *    MIXED file (markers and puts together) keeps its full bounds in
    *    the check; when those overlap another emitting file, the route
    *    falls back.
    *  - `hash` — LSM-overlapped commits awaiting compaction, legacy
    *    (stat-less) directories: the declarative pivot's one shuffle is
    *    the always-correct fallback.
    */
  def pivotAuto(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      columns: Seq[String],
      rowKeyCol: Option[String] = None,
      family: Option[String] = None,
      strategy: Option[String] = None): DataFrame = {
    val cells = spark.read.format("graft-kv").load(path)
    if (strategy.getOrElse(autoStrategy(spark, path)) == "presorted")
      pivotPresorted(cells, columns, rowKeyCol, family)
    else pivot(cells, columns, rowKeyCol, family)
  }

  /** The route [[pivotAuto]] would take for `path` (`"presorted"` /
    * `"hash"`) — exposed so callers and specs observe the decision
    * without parsing physical plans; a caller that already consulted it
    * passes the answer back through [[pivotAuto]]'s `strategy` so the
    * manifest is not replayed twice. The consult itself is ONE replay
    * (`KvLog.live`) serving both the tombstone check and the contiguity
    * certification.
    */
  def autoStrategy(spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir) || !graft.sources.KvLog.exists(fs, dir))
      return "hash"
    val entries = graft.sources.KvLog.live(fs, dir).withStats
    // Stats on EVERY live file are the certification substrate (a
    // stat-less file proves nothing about its sort or span) — including
    // marker segments, whose slices the masked scan derives from the
    // same stats.
    if (entries.isEmpty || entries.exists(_._2.isEmpty)) return "hash"
    // The default scan is the MASKED view: markers drop in-stream without
    // reordering, so only files that can EMIT puts (tombstones < rows)
    // must be mutually disjoint — a pure-marker segment spanning the
    // keyspace (the fresh-DELETE state) costs nothing. Mixed files keep
    // their full (marker-inclusive) bounds: conservative, falls back on
    // overlap.
    val emitting = entries.filter(_._2.exists(s => s.tombstones < s.rows))
    if (graft.sources.KvTableInfo.storedDisjointSortedFrom(emitting))
      "presorted"
    else "hash"
  }

  /** P1–P3 for the delimited dialect: select schema columns in order, decode
    * bytes as UTF-8 (F1), render missing cells as empty string (P2,
    * Txt:176-182). Keeps `rowKey` first like the exporters' rowKey column.
    */
  def projectDelimited(pivoted: DataFrame, columns: Seq[String]): DataFrame =
    pivoted.select(col("rowKey") +: columns.map(c =>
      coalesce(col(c).cast(StringType), lit("")).as(c)): _*)

  /** F5: compose one delimited line per row. `concat_ws` drops null inputs
    * *and their separator* — not the reference's semantics (an absent cell is
    * an empty field *between* delimiters, Txt:176-182) — so inputs must be
    * null-free; `lineOf` coalesces to "" first.
    */
  def lineOf(columns: Seq[String], delimiter: String): Column =
    concat_ws(delimiter, columns.map(c => coalesce(col(c).cast(StringType), lit(""))): _*)

  /** Full delimited-export projection: one `line` column, schema order. */
  def projectLines(pivoted: DataFrame, columns: Seq[String], delimiter: String): DataFrame =
    pivoted.select(lineOf(columns, delimiter).as("line"))

  /** HBase VERSION RETENTION as an explicit operator: the reference's
    * column family silently keeps `DEFAULT_VERSIONS = 3` newest cells per
    * (rowKey, qualifier) (HBase 0.94 `HColumnDescriptor` default, accepted
    * implicitly by CreateTable.java:48-52) and its exporters read only the
    * newest — this is the retention/compaction step between those two
    * facts: rank a cell coordinate's versions newest-first and keep
    * `rank <= k`; larger k preserves history the way the store does.
    *
    * One shuffle on (rowKey, qualifier); rank ties on equal ts break by
    * value bytes ASCENDING so retention is deterministic (HBase itself
    * breaks equal-ts ties by memstore sequence id, which no replay can
    * reproduce) — the pivot's winner test keeps the LARGEST, so `k = 1` is
    * its last-write-wins only where no two versions share a ts.
    */
  def retainVersions(cells: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "retention must keep at least one version")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rowKey"), col("qualifier"))
      .orderBy(col("ts").desc, col("value"))
    cells.withColumn("version", row_number().over(w).cast("long"))
      .filter(col("version") <= k)
  }

  /** HBase TTL expiry, the other half of the retention pair (HBase 0.94
    * `HColumnDescriptor` TTL; the reference's family leaves it at FOREVER,
    * CreateTable.java:48-52 — real deployments set it): drop cells whose
    * age at `nowTs` exceeds `ttl`, in the ts unit the table uses. Pure
    * map-side filter — no shuffle, pushes to the scan.
    */
  def expireCells(cells: DataFrame, nowTs: Long, ttl: Long): DataFrame = {
    require(ttl > 0, "ttl must be positive")
    cells.filter(col("ts") > nowTs - ttl)
  }

  /** HBase major-compaction semantics for column delete markers: a tombstone
    * `(rowKey, qualifier, ts)` masks every put at the same coordinate with
    * `put.ts <= tombstone.ts`; a major compaction drops the masked cells AND
    * the markers themselves (HBase 0.94 Delete/Store semantics — the read
    * path the reference's full-table scans silently rely on HBase to apply).
    *
    * Plan shape: NO join. Puts and tombstones are unioned into one relation
    * and the per-coordinate max tombstone ts is a partition-key analytic —
    * one exchange on (rowKey, qualifier), the same key the downstream pivot
    * shuffles on anyway. A join formulation would shuffle both inputs AND
    * re-exchange the result; this shuffles each input row exactly once.
    */
  def compactTombstones(puts: DataFrame, tombstones: DataFrame): DataFrame = {
    val u = puts.select(col("rowKey"), col("qualifier"), col("value"),
        col("ts"), lit(false).as("_tomb"))
      .unionByName(tombstones.select(col("rowKey"), col("qualifier"),
        lit(null).cast("binary").as("value"), col("ts"), lit(true).as("_tomb")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rowKey"), col("qualifier"))
    val tombMax = max(when(col("_tomb"), col("ts"))).over(w)
    u.withColumn("_tmax", tombMax)
      .filter(!col("_tomb") && (col("_tmax").isNull || col("ts") > col("_tmax")))
      .drop("_tomb", "_tmax")
  }
}
