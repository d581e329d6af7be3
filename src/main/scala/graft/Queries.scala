package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.kv.{KvGenerator, KvTable, RangeLayout}
import graft.ops.{KvPivot, TypedProject}
import graft.schema.SchemaFile
import graft.streaming.StreamingPivot

/** The query catalog behind [[SparkEntry]]: one entry per implemented
  * operator (SURVEY §2 ids cited per query), each with a DuckDB oracle twin.
  *
  * Oracle-stability rules used throughout:
  *  - every computed column aliased identically in Spark and SQL;
  *  - binary cell values decoded to UTF-8 strings before returning;
  *  - no `%f` formatting / double→string casts (engine-dependent) — doubles
  *    are compared as `floor(x*100)` longs or rounded decimals;
  *  - `floor()` not `CAST` for double→int (DuckDB CAST rounds, Spark truncates).
  */
object Queries
    extends QueriesRelational with QueriesText with QueriesDedup
    with QueriesSimilarity with QueriesMultimodal with QueriesStreaming {

  /** The five event_type values in the `events` table = the pivot schema. */
  val EventCols = Seq("click", "error", "purchase", "signup", "view")

  // ---------------------------------------------------------------- A1 / A2

  /** The events cell table persisted in the range layout (8 "regions",
    * sorted within — the modeled HBase table on disk), served by the
    * `graft-kv` DataSource V2 connector ([[graft.sources.KvCellSource]]).
    * This is the S1 scan as an engine-owned pluggable source rather than an
    * inherited parquet read.
    */
  private[graft] def ensureRegionCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"region_cells|$sfDir", _ => {
      val path = artifactPath("region_cells", sfDir)
      KvTable.eventsAsCells(spark, sfDir)
        .write.format("graft-kv").option("regions", 8)
        .mode("overwrite").save(path)
      path
    })

  private[graft] def kvSourceCells(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("graft-kv").load(ensureRegionCells(spark, sfDir))

  /** A1 pivot + A2 last-write-wins over the events-as-KV table (S1 scan →
    * S2 family filter → groupBy pivot), P3 nulls kept for missing cells.
    * The scan runs through the `graft-kv` V2 connector: the family
    * predicate is pushed INTO the source (PlanSpec asserts it appears in
    * the scan's pushed filter list) — `scan.addFamily` semantics owned by
    * the engine, with parquet record filtering underneath.
    */
  def kvPivotEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = kvSourceCells(spark, sfDir)
    val piv = KvPivot.pivot(cells, EventCols, family = Some("f"))
    piv.select(col("rowKey") +: EventCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  /** S1 range scan through the V2 source: a rowKey interval + qualifier
    * predicate aggregated per key. The rowKey bounds prune REGION FILES at
    * planning time (footer min/max over the sorted layout — the HBase
    * scan-range → region routing analog); PlanSpec asserts the scan
    * schedules fewer partitions than the table has regions.
    */
  def kvV2RangeScan(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = kvSourceCells(spark, sfDir)
    cells.filter(col("rowKey") >= "00000002" && col("rowKey") < "00000012" &&
        col("qualifier") === "click")
      .groupBy(col("rowKey"))
      .agg(count(lit(1)).as("n_clicks"), max(col("ts")).as("max_ts"))
  }

  private[graft] val kvV2RangeScanSql: String =
    """SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
      |  count(*) AS n_clicks, max(event_id) AS max_ts
      |FROM events
      |WHERE event_type = 'click'
      |  AND lpad(CAST(user_id AS VARCHAR), 8, '0') >= '00000002'
      |  AND lpad(CAST(user_id AS VARCHAR), 8, '0') < '00000012'
      |GROUP BY 1""".stripMargin

  /** The SALTED events table: rowKeys prefixed through [[KvSalt.salted]]
    * (the HBase/Phoenix SALT_BUCKETS hotspot fix) before the ordinary
    * range-sorted sink write — stored layout spreads every logical key
    * range over 16 bucket subranges.
    */
  private[graft] def ensureSaltedCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"salted_cells|$sfDir", _ => {
      val path = artifactPath("salted_cells", sfDir)
      graft.sources.KvSalt.salted(KvTable.eventsAsCells(spark, sfDir), 16)
        .write.format("graft-kv").option("regions", 8)
        .mode("overwrite").save(path)
      path
    })

  /** The range scan of [[kvV2RangeScan]] against a SALTED table: the scan
    * option strips the salt from every emitted key and rewrites the
    * logical rowKey range into the 16 per-salt stored ranges (pushed as
    * one exact Or — parquet record filter + disjunctive region pruning
    * both consume it), so the same oracle must hold bit-for-bit. At scale
    * this is the layout that keeps a "latest keys" range scan spread over
    * the whole cluster instead of one tail region.
    */
  def kvSaltedScan(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = spark.read.format("graft-kv").option("saltBuckets", 16)
      .load(ensureSaltedCells(spark, sfDir))
    cells.filter(col("rowKey") >= "00000002" && col("rowKey") < "00000012" &&
        col("qualifier") === "click")
      .groupBy(col("rowKey"))
      .agg(count(lit(1)).as("n_clicks"), max(col("ts")).as("max_ts"))
  }

  /** [[kvSaltedScan]]'s scan THROUGH an in-place layout conversion
    * ([[graft.sources.KvResalt]] — `CALL sys.resalt`): the table is
    * written 16-bucket salted, then rewritten to 4 buckets in one
    * manifest-atomic pass (the declaring checkpoint entry,
    * [[graft.sources.KvLog.Entry.saltDecl]]). The scan takes NO salt
    * option — resolution follows the manifest declaration — and the same
    * range+qualifier oracle must hold bit-for-bit: a resalt is a physical
    * routing change and nothing else. At scale this is how an operator
    * fixes a mis-sized `SALT_BUCKETS` choice (the Phoenix "create new
    * table and upsert-select" dance) as one online table operation.
    */
  private[graft] def ensureResaltedCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"resalted_cells|$sfDir", _ => {
      val path = artifactPath("resalted_cells", sfDir)
      // A PREVIOUS run's artifact already holds the converted layout and
      // its recorded properties, which rightly refuse a fresh 16-bucket
      // overwrite — stage from scratch instead.
      graft.sinks.Sinks.deleteRecursive(spark, path)
      graft.sources.KvSalt.saltedWrite(
        KvTable.eventsAsCells(spark, sfDir), path, n = 16, regions = 8,
        mode = "overwrite")
      val r = graft.sources.KvResalt.resalt(spark, path, Some(4))
      require(r.isInstanceOf[graft.sources.KvResalt.Resalted],
        s"kv_resalt_scan staging expected a conversion, got $r")
      path
    })

  def kvResaltScan(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = spark.read.format("graft-kv")
      .load(ensureResaltedCells(spark, sfDir))
    cells.filter(col("rowKey") >= "00000002" && col("rowKey") < "00000012" &&
        col("qualifier") === "click")
      .groupBy(col("rowKey"))
      .agg(count(lit(1)).as("n_clicks"), max(col("ts")).as("max_ts"))
  }

  /** MAINTAINED SECONDARY INDEX end to end ([[graft.sources.KvIndex]] —
    * `CALL sys.create_index/refresh_index`): the events cell table gets a
    * global index on the `click` column, then lives through the full DML
    * lifecycle — updates that move rows INTO the queried range, a
    * whole-row delete slice, a refresh, and MORE updates the index has
    * not absorbed yet. The lookup must equal the logical answer (current
    * LWW value per key, deletes masked, value in [9000, 12000)) — stale
    * index entries die in verification, unabsorbed changes arrive via the
    * CDC tail. At 100 TB this is the Phoenix global-index shape: a value
    * range becomes a pruned scan of a value-ordered side table plus
    * bloom-pruned point gets, never a base-table scan.
    */
  private[graft] def ensureIndexedCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"indexed_cells|$sfDir", _ => {
      val path = artifactPath("indexed_cells", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      KvTable.eventsAsCells(spark, sfDir)
        .write.format("graft-kv").option("regions", 4)
        .mode("overwrite").save(path)
      graft.sources.KvIndex.create(spark, path, "by_click", "f", "click",
        pad = 12, regions = 4)
      // Post-create DML the FIRST refresh absorbs: 50 upserts into the
      // queried range + a 50-key whole-row delete slice.
      spark.range(50).selectExpr(
        "lpad(CAST(id AS STRING), 8, '0') AS rowKey",
        "'f' AS family", "'click' AS qualifier",
        "encode(CAST(10000 + id AS STRING), 'UTF-8') AS value",
        "4000000000000000000L + id AS ts")
        .write.format("graft-kv").option("regions", 1).mode("append").save(path)
      graft.sources.KvDelete.deleteRows(spark, path,
        spark.range(50, 100).selectExpr(
          "lpad(CAST(id AS STRING), 8, '0') AS rowKey"))
      val r = graft.sources.KvIndex.refresh(spark, path, "by_click")
      require(r.isInstanceOf[graft.sources.KvIndex.Refreshed],
        s"kv_index_maintained staging expected a refresh, got $r")
      // Post-refresh DML the lookup's CDC tail must cover on its own.
      spark.range(20).selectExpr(
        "lpad(CAST(100 + id AS STRING), 8, '0') AS rowKey",
        "'f' AS family", "'click' AS qualifier",
        "encode(CAST(11000 + id AS STRING), 'UTF-8') AS value",
        "4100000000000000000L + id AS ts")
        .write.format("graft-kv").option("regions", 1).mode("append").save(path)
      path
    })

  def kvIndexMaintained(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.KvIndex.lookup(spark,
      ensureIndexedCells(spark, sfDir), "by_click", "9000", "12000")

  /** r15: COVERED (INCLUDE) secondary index
    * ([[graft.sources.KvIndex.lookupCovered]], the Phoenix covered-index
    * shape): `by_click INCLUDE (view)` is maintained EXACTLY (refresh
    * tombstones superseded entries), so once the covered seq equals the
    * base's latest seq the whole lookup — indexed range AND the included
    * `view` column — serves INDEX-ONLY: zero base data-file opens
    * (counting-FS spec pins it). Staging runs the DML lifecycle (upserts
    * into range + a whole-row delete slice) and one exact refresh, so
    * the timed query hits the fresh fast path.
    */
  private[graft] def ensureCoveredIndexedCells(spark: SparkSession,
      sfDir: String): String =
    artifacts.computeIfAbsent(s"covered_idx|$sfDir", _ => {
      val p = artifactPath("covered_idx", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, p)
      KvTable.eventsAsCells(spark, sfDir)
        .write.format("graft-kv").option("regions", 4)
        .mode("overwrite").save(p)
      graft.sources.KvIndex.create(spark, p, "by_click", "f", "click",
        pad = 12, regions = 4, include = Seq("view"))
      spark.range(50).selectExpr(
        "lpad(CAST(id AS STRING), 8, '0') AS rowKey",
        "'f' AS family", "'click' AS qualifier",
        "encode(CAST(10000 + id AS STRING), 'UTF-8') AS value",
        "4000000000000000000L + id AS ts")
        .write.format("graft-kv").option("regions", 1).mode("append").save(p)
      graft.sources.KvDelete.deleteRows(spark, p,
        spark.range(50, 100).selectExpr(
          "lpad(CAST(id AS STRING), 8, '0') AS rowKey"))
      val r = graft.sources.KvIndex.refresh(spark, p, "by_click")
      require(r.isInstanceOf[graft.sources.KvIndex.Refreshed],
        s"kv_index_covered staging expected an exact refresh, got $r")
      p
    })

  def kvIndexCovered(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.KvIndex.lookupCovered(spark,
      ensureCoveredIndexedCells(spark, sfDir), "by_click", "9000", "12000")
      .withColumnRenamed("view", "view_val")

  /** r19: secondary index over a SALTED base table — creation, the DML
    * lifecycle, exact refresh, and the covered range lookup all COMPOSE
    * with `salt_buckets`: the index table itself is unsalted (its keys
    * are value-ordered), entries record LOGICAL base keys (the base scan
    * strips the salt before the index ever sees a row), and the
    * verification read's key predicates expand to per-salt stored ranges
    * like any other read ([[graft.sources.KvSalt]]). Exactly
    * [[kvIndexCovered]]'s staging and bounds over an 8-bucket base, so
    * the same oracle must hold bit-for-bit — the salted and unsalted
    * twins are indistinguishable through the index surface
    * (KvIndexTopNSpec pins the top-n equality too).
    */
  def kvIndexSalted(spark: SparkSession, sfDir: String): DataFrame = {
    val path = artifacts.computeIfAbsent(s"salted_idx|$sfDir", _ => {
      val p = artifactPath("salted_idx", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, p)
      graft.sources.KvSalt.saltedWrite(
        KvTable.eventsAsCells(spark, sfDir), p, n = 8, regions = 4,
        mode = "overwrite")
      graft.sources.KvIndex.create(spark, p, "by_click", "f", "click",
        pad = 12, regions = 4, include = Seq("view"))
      graft.sources.KvSalt.saltedWrite(
        spark.range(50).selectExpr(
          "lpad(CAST(id AS STRING), 8, '0') AS rowKey",
          "'f' AS family", "'click' AS qualifier",
          "encode(CAST(10000 + id AS STRING), 'UTF-8') AS value",
          "4000000000000000000L + id AS ts"),
        p, n = 8, regions = 1)
      graft.sources.KvDelete.deleteRows(spark, p,
        spark.range(50, 100).selectExpr(
          "lpad(CAST(id AS STRING), 8, '0') AS rowKey"))
      val r = graft.sources.KvIndex.refresh(spark, p, "by_click")
      require(r.isInstanceOf[graft.sources.KvIndex.Refreshed],
        s"kv_index_salted staging expected an exact refresh, got $r")
      p
    })
    graft.sources.KvIndex.lookupCovered(spark, path, "by_click",
      "9000", "12000").withColumnRenamed("view", "view_val")
  }

  /** r17: INDEX-SERVED TOP-N ([[graft.sources.KvIndex.topNCovered]] via
    * [[graft.sources.KvIndexRouting]] — Phoenix's ORDER BY elimination):
    * plain SQL `ORDER BY CAST(value AS BIGINT) DESC, rowKey DESC LIMIT n`
    * over the LWW-pivoted view, rewritten to a pushed cell-level TopN on
    * the FRESH COVERED index — O(k·files) index cells, ZERO base
    * data-file opens (KvIndexTopNSpec pins both the counting-FS claim
    * and routed≡unrouted row equality). The rowKey tie-break matches the
    * encoded index-key order, so the answer is deterministic and the
    * retained Sort on top re-sorts exactly k rows.
    */
  def kvIndexTopn(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureCoveredIndexedCells(spark, sfDir)
    graft.sources.KvIndexRouting.install(spark)
    spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier") === "click")
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value"))
      .createOrReplaceTempView("kv_index_topn_view")
    spark.sql(
      """SELECT rowKey, value FROM kv_index_topn_view
        |ORDER BY CAST(value AS BIGINT) DESC, rowKey DESC
        |LIMIT 25""".stripMargin)
  }

  private[graft] val kvIndexTopnSql: String =
    s"""WITH base AS (
       |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |         event_id AS ts
       |  FROM events WHERE event_type = 'click'),
       |upd AS (
       |  SELECT lpad(CAST(i AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(10000 + i AS VARCHAR) AS value,
       |         4000000000000000000 + i AS ts
       |  FROM range(50) t(i)),
       |allc AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
       |lww AS (SELECT rowKey, value,
       |          row_number() OVER (PARTITION BY rowKey
       |            ORDER BY ts DESC, value ASC) AS rn
       |        FROM allc),
       |cur AS (SELECT rowKey, value FROM lww
       |        WHERE rn = 1
       |          AND rowKey NOT BETWEEN '00000050' AND '00000099')
       |SELECT rowKey, value FROM cur
       |ORDER BY CAST(value AS BIGINT) DESC, rowKey DESC
       |LIMIT 25""".stripMargin

  /** r18: RANGE-RESTRICTED index-served top-n —
    * `Limit(Sort(Filter(range, pivot)))` recognized as ONE routable
    * shape ([[graft.sources.KvIndexRouting]] top-down arm): the range
    * prunes the covered-index scan through the encoded key prefix and
    * the cell-level TopN caps it, so the answer is O(k) index cells
    * where the r17 rule served either the O(range) lookup or nothing.
    */
  def kvIndexTopnRange(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureCoveredIndexedCells(spark, sfDir)
    graft.sources.KvIndexRouting.install(spark)
    spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier") === "click")
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value"))
      .createOrReplaceTempView("kv_index_topn_range_view")
    spark.sql(
      """SELECT rowKey, value FROM kv_index_topn_range_view
        |WHERE CAST(value AS BIGINT) >= 10010 AND CAST(value AS BIGINT) < 10040
        |ORDER BY CAST(value AS BIGINT) DESC, rowKey DESC
        |LIMIT 20""".stripMargin)
  }

  private[graft] val kvIndexTopnRangeSql: String =
    s"""WITH base AS (
       |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |         event_id AS ts
       |  FROM events WHERE event_type = 'click'),
       |upd AS (
       |  SELECT lpad(CAST(i AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(10000 + i AS VARCHAR) AS value,
       |         4000000000000000000 + i AS ts
       |  FROM range(50) t(i)),
       |allc AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
       |lww AS (SELECT rowKey, value,
       |          row_number() OVER (PARTITION BY rowKey
       |            ORDER BY ts DESC, value ASC) AS rn
       |        FROM allc),
       |cur AS (SELECT rowKey, value FROM lww
       |        WHERE rn = 1
       |          AND rowKey NOT BETWEEN '00000050' AND '00000099')
       |SELECT rowKey, value FROM cur
       |WHERE CAST(value AS BIGINT) >= 10010 AND CAST(value AS BIGINT) < 10040
       |ORDER BY CAST(value AS BIGINT) DESC, rowKey DESC
       |LIMIT 20""".stripMargin

  /** r18: STALE-TOLERANT index-served top-n — the covered index is NOT
    * refreshed after two further commits (10 value updates + 20 row
    * deletes), and `ORDER BY value DESC LIMIT k` still routes:
    * [[graft.sources.KvIndex.topNCovered]] over-fetches k + T stale
    * index entries (T = keys the CDC span touched), unions the touched
    * keys, and verifies against the base pinned at the probed seq — so
    * a LIVE table's inspection query stays O(k + changes) instead of
    * silently falling back to the full pivot sort the moment one commit
    * lands (r17 served only just-refreshed indexes). Reference tie:
    * AvroReader.java:27-30's limit semantics.
    */
  def kvIndexTopnStale(spark: SparkSession, sfDir: String): DataFrame = {
    val path = artifacts.computeIfAbsent(s"stale_topn_idx|$sfDir", _ => {
      val p = artifactPath("stale_topn_idx", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, p)
      KvTable.eventsAsCells(spark, sfDir)
        .write.format("graft-kv").option("regions", 4)
        .mode("overwrite").save(p)
      // covered at the CURRENT seq...
      graft.sources.KvIndex.create(spark, p, "by_click", "f", "click",
        pad = 12, regions = 4, include = Seq("view"))
      // ...then two commits it never absorbs (no refresh)
      spark.range(10).selectExpr(
        "lpad(CAST(id AS STRING), 8, '0') AS rowKey",
        "'f' AS family", "'click' AS qualifier",
        "encode(CAST(30000 + id AS STRING), 'UTF-8') AS value",
        "4000000000000000000L + id AS ts")
        .write.format("graft-kv").option("regions", 1).mode("append").save(p)
      graft.sources.KvDelete.deleteRows(spark, p,
        spark.range(10, 30).selectExpr(
          "lpad(CAST(id AS STRING), 8, '0') AS rowKey"))
      p
    })
    graft.sources.KvIndexRouting.install(spark)
    spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier") === "click")
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value"))
      .createOrReplaceTempView("kv_index_topn_stale_view")
    spark.sql(
      """SELECT rowKey, value FROM kv_index_topn_stale_view
        |ORDER BY CAST(value AS BIGINT) DESC, rowKey DESC
        |LIMIT 25""".stripMargin)
  }

  private[graft] val kvIndexTopnStaleSql: String =
    s"""WITH base AS (
       |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |         event_id AS ts
       |  FROM events WHERE event_type = 'click'),
       |upd AS (
       |  SELECT lpad(CAST(i AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(30000 + i AS VARCHAR) AS value,
       |         4000000000000000000 + i AS ts
       |  FROM range(10) t(i)),
       |allc AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
       |lww AS (SELECT rowKey, value,
       |          row_number() OVER (PARTITION BY rowKey
       |            ORDER BY ts DESC, value ASC) AS rn
       |        FROM allc),
       |cur AS (SELECT rowKey, value FROM lww
       |        WHERE rn = 1
       |          AND rowKey NOT BETWEEN '00000010' AND '00000029')
       |SELECT rowKey, value FROM cur
       |ORDER BY CAST(value AS BIGINT) DESC, rowKey DESC
       |LIMIT 25""".stripMargin

  /** r18: WIDE (multi-qualifier) index-served top-n — the pivot carries
    * click AND view, ordered by click: the covered index on click with
    * `include = view` serves the whole k-row answer index-only
    * ([[graft.sources.KvIndex.topNCovered]] `wide`, via the routing rule's
    * TopN arm), include payload riding the entries. The null-ordering
    * boundary (view-only rows pivot with NULL click) is guarded inside
    * the lookup: bare DESC proves k full rows or answers from the exact
    * wide pivot; bare ASC never routes (KvIndexTopNSpec pins the grid).
    */
  def kvIndexTopnWide(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureCoveredIndexedCells(spark, sfDir)
    graft.sources.KvIndexRouting.install(spark)
    spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier").isin("click", "view"))
      .groupBy(col("rowKey"))
      .agg(
        decode(graft.functions.MaxByTsAgg.maxByTs(col("value"),
          when(col("qualifier") === "click", col("ts"))), "UTF-8")
          .as("click_val"),
        decode(graft.functions.MaxByTsAgg.maxByTs(col("value"),
          when(col("qualifier") === "view", col("ts"))), "UTF-8")
          .as("view_val"))
      .createOrReplaceTempView("kv_index_topn_wide_view")
    spark.sql(
      """SELECT rowKey, click_val, view_val FROM kv_index_topn_wide_view
        |ORDER BY CAST(click_val AS BIGINT) DESC, rowKey DESC
        |LIMIT 25""".stripMargin)
  }

  private val kvIndexTopnWideSql: String =
    s"""WITH base AS (
       |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |         event_id AS ts
       |  FROM events WHERE event_type = 'click'),
       |upd AS (
       |  SELECT lpad(CAST(i AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(10000 + i AS VARCHAR) AS value,
       |         4000000000000000000 + i AS ts
       |  FROM range(50) t(i)),
       |allc AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
       |lwwC AS (SELECT rowKey, value,
       |           row_number() OVER (PARTITION BY rowKey
       |             ORDER BY ts DESC, value ASC) AS rn
       |         FROM allc),
       |lwwV AS (SELECT rowKey, value,
       |           row_number() OVER (PARTITION BY rowKey
       |             ORDER BY ts DESC, value ASC) AS rn
       |         FROM (SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |                 CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |                 event_id AS ts
       |               FROM events WHERE event_type = 'view')),
       |curC AS (SELECT rowKey, value FROM lwwC WHERE rn = 1
       |         AND rowKey NOT BETWEEN '00000050' AND '00000099'),
       |curV AS (SELECT rowKey, value FROM lwwV WHERE rn = 1
       |         AND rowKey NOT BETWEEN '00000050' AND '00000099'),
       |piv AS (SELECT COALESCE(c.rowKey, v.rowKey) AS rowKey,
       |          c.value AS click_val, v.value AS view_val
       |        FROM curC c FULL OUTER JOIN curV v ON c.rowKey = v.rowKey)
       |SELECT rowKey, click_val, view_val FROM piv
       |ORDER BY CAST(click_val AS BIGINT) DESC, rowKey DESC
       |LIMIT 25""".stripMargin

  /** r19: COMPOSITE index-served top-n — `ORDER BY click DESC, view DESC
    * LIMIT k` with a range bound on BOTH components routes through the
    * composite index `(click, view)` ([[graft.sources.KvIndex
    * .topNComposite]] via the routing rule's TopN arm): the NUL-joined
    * prefix-free encoding makes encoded-key order exactly the
    * (click, view) tuple order, so the k-head of the bounded encoded
    * range serves the whole answer in ONE index scan on the fresh path.
    * The per-component bounds are the null wall (a row missing a
    * component pivots with NULL there and ranks mid-stream, invisible
    * to the inner-join index) — a bare composite sort stays on the
    * pivot. Reference tie: AvroReader.java:27-30's inspection-limit
    * semantics over a composite collation.
    */
  def kvIndexTopnComposite(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureCompositeIdx(spark, sfDir)
    graft.sources.KvIndexRouting.install(spark)
    spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier").isin("click", "view"))
      .groupBy(col("rowKey"))
      .agg(
        decode(graft.functions.MaxByTsAgg.maxByTs(col("value"),
          when(col("qualifier") === "click", col("ts"))), "UTF-8")
          .as("click_val"),
        decode(graft.functions.MaxByTsAgg.maxByTs(col("value"),
          when(col("qualifier") === "view", col("ts"))), "UTF-8")
          .as("view_val"))
      .createOrReplaceTempView("kv_index_topn_composite_view")
    spark.sql(
      """SELECT rowKey, click_val, view_val FROM kv_index_topn_composite_view
        |WHERE CAST(click_val AS BIGINT) >= 9000 AND CAST(click_val AS BIGINT) < 12000
        |  AND CAST(view_val AS BIGINT) >= 0 AND CAST(view_val AS BIGINT) < 5000
        |ORDER BY CAST(click_val AS BIGINT) DESC, CAST(view_val AS BIGINT) DESC, rowKey DESC
        |LIMIT 15""".stripMargin)
  }

  private[graft] val kvIndexTopnCompositeSql: String =
    s"""WITH base AS (
       |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |         event_id AS ts
       |  FROM events WHERE event_type = 'click'),
       |upd AS (
       |  SELECT lpad(CAST(i AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(10000 + i AS VARCHAR) AS value,
       |         4000000000000000000 + i AS ts
       |  FROM range(50) t(i)),
       |allc AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
       |lwwC AS (SELECT rowKey, value,
       |           row_number() OVER (PARTITION BY rowKey
       |             ORDER BY ts DESC, value ASC) AS rn
       |         FROM allc),
       |lwwV AS (SELECT rowKey, value,
       |           row_number() OVER (PARTITION BY rowKey
       |             ORDER BY ts DESC, value ASC) AS rn
       |         FROM (SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |                 CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |                 event_id AS ts
       |               FROM events WHERE event_type = 'view')),
       |cur AS (SELECT rowKey, value FROM lwwC
       |        WHERE rn = 1
       |          AND rowKey NOT BETWEEN '00000050' AND '00000099')
       |SELECT c.rowKey, c.value AS click_val, v.value AS view_val
       |FROM cur c JOIN (SELECT rowKey, value FROM lwwV WHERE rn = 1
       |                 AND rowKey NOT BETWEEN '00000050' AND '00000099') v
       |  ON c.rowKey = v.rowKey
       |WHERE CAST(c.value AS BIGINT) >= 9000 AND CAST(c.value AS BIGINT) < 12000
       |  AND CAST(v.value AS BIGINT) >= 0 AND CAST(v.value AS BIGINT) < 5000
       |ORDER BY CAST(c.value AS BIGINT) DESC, CAST(v.value AS BIGINT) DESC, c.rowKey DESC
       |LIMIT 15""".stripMargin

  private[graft] val kvIndexCoveredSql: String =
    s"""WITH base AS (
       |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |         event_id AS ts
       |  FROM events WHERE event_type = 'click'),
       |upd AS (
       |  SELECT lpad(CAST(i AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(10000 + i AS VARCHAR) AS value,
       |         4000000000000000000 + i AS ts
       |  FROM range(50) t(i)),
       |allc AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
       |lwwC AS (SELECT rowKey, value,
       |           row_number() OVER (PARTITION BY rowKey
       |             ORDER BY ts DESC, value ASC) AS rn
       |         FROM allc),
       |lwwV AS (SELECT rowKey, value,
       |           row_number() OVER (PARTITION BY rowKey
       |             ORDER BY ts DESC, value ASC) AS rn
       |         FROM (SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |                 CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |                 event_id AS ts
       |               FROM events WHERE event_type = 'view')),
       |cur AS (SELECT rowKey, value FROM lwwC
       |        WHERE rn = 1
       |          AND rowKey NOT BETWEEN '00000050' AND '00000099')
       |SELECT c.rowKey, c.value, v.value AS view_val
       |FROM cur c LEFT JOIN (SELECT rowKey, value FROM lwwV WHERE rn = 1) v
       |  ON c.rowKey = v.rowKey
       |WHERE CAST(c.value AS BIGINT) >= 9000 AND CAST(c.value AS BIGINT) < 12000""".stripMargin

  /** r16: COMPOSITE (multi-column) secondary index
    * ([[graft.sources.KvIndex.lookupComposite]], the Phoenix composite
    * shape — index key = NUL-joined padded component values + base key):
    * `(click, view)` both as decimal components, maintained EXACTLY
    * (composite ⇒ covered), through the same DML lifecycle as
    * `kv_index_covered` (upserts into range + a whole-row delete slice +
    * one exact refresh). The two-column predicate is served by ONE index
    * scan on the fresh path — leading bound prunes via the encoded key
    * range, the second component filters the entry payload, zero base
    * file opens (counting-FS spec) — and entries exist only for rows
    * carrying BOTH components (inner-join semantics, mirrored by the
    * oracle's inner join).
    */
  def kvIndexComposite(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureCompositeIdx(spark, sfDir)
    graft.sources.KvIndex.lookupComposite(spark, path, "by_click_view",
      Seq(("9000", "12000"), ("0", "5000")))
      .withColumnRenamed("view", "view_val")
  }

  private[graft] def ensureCompositeIdx(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"composite_idx|$sfDir", _ => {
      val p = artifactPath("composite_idx", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, p)
      KvTable.eventsAsCells(spark, sfDir)
        .write.format("graft-kv").option("regions", 4)
        .mode("overwrite").save(p)
      graft.sources.KvIndex.create(spark, p, "by_click_view", "f", "click",
        pad = 12, regions = 4, rest = Seq(("view", 12)))
      spark.range(50).selectExpr(
        "lpad(CAST(id AS STRING), 8, '0') AS rowKey",
        "'f' AS family", "'click' AS qualifier",
        "encode(CAST(10000 + id AS STRING), 'UTF-8') AS value",
        "4000000000000000000L + id AS ts")
        .write.format("graft-kv").option("regions", 1).mode("append").save(p)
      graft.sources.KvDelete.deleteRows(spark, p,
        spark.range(50, 100).selectExpr(
          "lpad(CAST(id AS STRING), 8, '0') AS rowKey"))
      val r = graft.sources.KvIndex.refresh(spark, p, "by_click_view")
      require(r.isInstanceOf[graft.sources.KvIndex.Refreshed],
        s"kv_index_composite staging expected an exact refresh, got $r")
      p
    })

  /** r16: automatic routing for COMPOSITE predicates
    * ([[graft.sources.KvIndex.autoLookupComposite]] — `autoLookup`'s
    * multi-column twin): the caller states only the per-qualifier
    * ranges; index-vs-scan is the engine's manifest-stats cost call over
    * the leading component. Same staging and oracle as
    * `kv_index_composite` — routed and unrouted answers must be
    * indistinguishable.
    */
  def kvIndexAutoComposite(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureCompositeIdx(spark, sfDir)
    graft.sources.KvIndex.autoLookupComposite(spark, path, "f",
      Seq(("click", "9000", "12000"), ("view", "0", "5000")))
      .withColumnRenamed("view", "view_val")
  }

  /** r16: composite + SQL routing COMPOSED — the same two-column
    * predicate as `kv_index_composite`, written as PLAIN SQL over the
    * two-qualifier pivoted view; [[graft.sources.KvIndexRouting]]
    * recognizes the conditional-LWW pivot shape, matches the composite
    * index on exactly the predicated columns, and splices
    * `lookupComposite` (one index scan when fresh). Same oracle — the
    * routed and spelled plans must be indistinguishable in answers.
    */
  def kvIndexSqlComposite(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureCompositeIdx(spark, sfDir)
    graft.sources.KvIndexRouting.install(spark)
    spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" &&
        col("qualifier").isin("click", "view"))
      .groupBy(col("rowKey"))
      .agg(
        decode(graft.functions.MaxByTsAgg.maxByTs(col("value"),
          when(col("qualifier") === "click", col("ts"))), "UTF-8")
          .as("value"),
        decode(graft.functions.MaxByTsAgg.maxByTs(col("value"),
          when(col("qualifier") === "view", col("ts"))), "UTF-8")
          .as("view_val"))
      .createOrReplaceTempView("kv_index_sqlc_view")
    spark.sql(
      """SELECT rowKey, value, view_val FROM kv_index_sqlc_view
        |WHERE CAST(value AS BIGINT) >= 9000
        |  AND CAST(value AS BIGINT) < 12000
        |  AND CAST(view_val AS BIGINT) >= 0
        |  AND CAST(view_val AS BIGINT) < 5000""".stripMargin)
  }

  private[graft] val kvIndexCompositeSql: String =
    s"""WITH base AS (
       |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |         event_id AS ts
       |  FROM events WHERE event_type = 'click'),
       |upd AS (
       |  SELECT lpad(CAST(i AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(10000 + i AS VARCHAR) AS value,
       |         4000000000000000000 + i AS ts
       |  FROM range(50) t(i)),
       |allc AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
       |lwwC AS (SELECT rowKey, value,
       |           row_number() OVER (PARTITION BY rowKey
       |             ORDER BY ts DESC, value ASC) AS rn
       |         FROM allc),
       |lwwV AS (SELECT rowKey, value,
       |           row_number() OVER (PARTITION BY rowKey
       |             ORDER BY ts DESC, value ASC) AS rn
       |         FROM (SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |                 CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |                 event_id AS ts
       |               FROM events WHERE event_type = 'view')),
       |cur AS (SELECT rowKey, value FROM lwwC
       |        WHERE rn = 1
       |          AND rowKey NOT BETWEEN '00000050' AND '00000099')
       |SELECT c.rowKey, c.value, v.value AS view_val
       |FROM cur c JOIN (SELECT rowKey, value FROM lwwV WHERE rn = 1
       |                 AND rowKey NOT BETWEEN '00000050' AND '00000099') v
       |  ON c.rowKey = v.rowKey
       |WHERE CAST(c.value AS BIGINT) >= 9000 AND CAST(c.value AS BIGINT) < 12000
       |  AND CAST(v.value AS BIGINT) >= 0 AND CAST(v.value AS BIGINT) < 5000""".stripMargin

  /** r15: AUTOMATIC index routing ([[graft.sources.KvIndex.autoLookup]])
    * — the caller states only the PREDICATE (family, qualifier, value
    * range); whether it runs as the verified index lookup or a plain
    * scan+filter is the engine's manifest-stats cost call, Phoenix-style.
    * Same staging and oracle as `kv_index_maintained`: the routed and
    * unrouted plans must be indistinguishable in their answer, which is
    * exactly what makes automatic routing safe to ship.
    */
  def kvIndexAuto(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.KvIndex.autoLookup(spark,
      ensureIndexedCells(spark, sfDir), "f", "click", "9000", "12000")

  /** r16: SQL-SURFACE index routing ([[graft.sources.KvIndexRouting]] —
    * the `autoLookup` cost call lifted into Catalyst, Phoenix's optimizer
    * shape): the caller writes a PLAIN SQL range predicate over the
    * LWW-pivoted view; whether it runs as the verified index lookup or
    * the spelled full scan is the injected rule's manifest-stats
    * decision. Same staging, same oracle as `kv_index_maintained` — the
    * routed and unrouted plans must be indistinguishable in their answer.
    */
  def kvIndexSql(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureIndexedCells(spark, sfDir)
    graft.sources.KvIndexRouting.install(spark)
    spark.read.format("graft-kv").load(path)
      .filter(col("family") === "f" && col("qualifier") === "click")
      .groupBy(col("rowKey"))
      .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
        col("value"), col("ts")), "UTF-8").as("value"))
      .createOrReplaceTempView("kv_index_sql_view")
    spark.sql(
      """SELECT rowKey, value FROM kv_index_sql_view
        |WHERE CAST(value AS BIGINT) >= 9000
        |  AND CAST(value AS BIGINT) < 12000""".stripMargin)
  }

  private[graft] val kvIndexMaintainedSql: String =
    s"""WITH base AS (
       |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
       |         event_id AS ts
       |  FROM events WHERE event_type = 'click'),
       |upd AS (
       |  SELECT lpad(CAST(i AS VARCHAR), 8, '0') AS rowKey,
       |         CAST(10000 + i AS VARCHAR) AS value,
       |         4000000000000000000 + i AS ts
       |  FROM range(50) t(i)
       |  UNION ALL
       |  SELECT lpad(CAST(100 + i AS VARCHAR), 8, '0'),
       |         CAST(11000 + i AS VARCHAR),
       |         4100000000000000000 + i
       |  FROM range(20) t(i)),
       |allc AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
       |lww AS (SELECT rowKey, value,
       |          row_number() OVER (PARTITION BY rowKey
       |            ORDER BY ts DESC, value ASC) AS rn
       |        FROM allc),
       |cur AS (SELECT rowKey, value FROM lww
       |        WHERE rn = 1
       |          AND rowKey NOT BETWEEN '00000050' AND '00000099')
       |SELECT rowKey, value FROM cur
       |WHERE CAST(value AS BIGINT) >= 9000 AND CAST(value AS BIGINT) < 12000""".stripMargin

  /** A table staged into every accounting state [[graft.sources.KvFsck]]
    * distinguishes: an overwrite that preserved a pre-overwrite snapshot's
    * pinned files (SNAPSHOT-PINNED, on disk but in no log entry), a
    * compaction whose merged-away segments await vacuum (PENDING REMOVAL),
    * and a planted crash stray (ORPHAN) — alongside the healthy live set.
    * Every count is exact by construction, so the fsck query's oracle is
    * the literal expected report.
    */
  private[graft] def ensureFsckTable(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"fsck_table|$sfDir", _ => {
      val path = artifactPath("fsck_table", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      // keep distinct keys per file small so the sink always records blooms
      val cells = KvTable.eventsAsCells(spark, sfDir)
        .filter(col("rowKey") < "00000200")
      def subset(i: Int) = cells.filter(pmod(col("ts"), lit(3)) === i)
      subset(0).write.format("graft-kv").option("regions", 2)
        .mode("append").save(path)
      graft.sources.KvSnapshot.create(spark, path, "pin") // pins 2 files
      subset(1).write.format("graft-kv").option("regions", 2)
        .mode("overwrite").save(path) // truncate keeps ONLY the pinned 2
      subset(2).write.format("graft-kv").option("regions", 2)
        .mode("append").save(path)
      val res = graft.sources.KvCompactor.compact(spark, path, regions = 2)
      require(res.isInstanceOf[graft.sources.KvCompactor.Compacted],
        s"kv_fsck staging expected a compaction, got $res")
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val live = graft.sources.KvLog.liveFiles(fs, dir)
      val stray = new org.apache.hadoop.fs.Path(dir, "part-b9999999999-00000-dead.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(dir, live.head), fs, stray, false, fs.getConf)
      path
    })

  /** INCREMENTAL MATERIALIZED PIVOT over the CDC feed — the reason
    * `sinceSeq` exists: a downstream view refreshes from (state + delta)
    * without ever re-scanning history. The LWW cell state
    * (per-(rowKey, qualifier) max-ts cell, `max_by_ts` + `max(ts)`) is the
    * associative merge kernel: LWW(all cells) = LWW(LWW(prefix) ∪ delta),
    * so the materialized state of version 1 plus the `(1, latest]` CDC
    * span must pivot to exactly the full-table pivot — one shuffle over
    * |state| + |delta| per refresh, versus |history| for a rebuild. Same
    * oracle as `kv_pivot_events` (the merged view must be
    * indistinguishable from the rebuild).
    */
  /** The LWW cell-state reduce both incremental-consumer recipes share —
    * per-(rowKey, family, qualifier) max-ts cell with the byte-max value
    * tie-break (`max_by_ts`). Correctness-sensitive kernel the oracles
    * pin; one definition so the two queries cannot drift.
    */
  private[graft] def lwwCells(cells: DataFrame): DataFrame =
    cells.groupBy("rowKey", "family", "qualifier")
      .agg(graft.functions.MaxByTsAgg.maxByTs(col("value"), col("ts")).as("value"),
        max("ts").as("ts"))

  def kvIncrementalPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureVersionedCells(spark, sfDir)
    // state of version 1 (commits 0-1), materialized once like a real view
    val statePath = artifacts.computeIfAbsent(s"incr_pivot_state|$sfDir", _ => {
      val p = artifactPath("incr_pivot_state", sfDir)
      lwwCells(spark.read.format("graft-kv").option("asOfSeq", 1).load(path))
        .write.mode("overwrite").parquet(p)
      p
    })
    val state = spark.read.parquet(statePath)
    val delta = spark.read.format("graft-kv").option("sinceSeq", 1).load(path)
      .select("rowKey", "family", "qualifier", "value", "ts")
    // The MARKER-SAFE merge recipe (r17): the feed ships raw markers —
    // row/column tombstones from deletes, exact-version records from a
    // retention pass — and a consumer that merged them as cells would
    // either emit reserved-qualifier rows or silently keep deleted
    // state. applyMarkers masks the union and drops the markers
    // themselves; this staging carries none (the no-op path costs one
    // broadcast of an empty mask), and `kv_state_merge_retention` gates
    // the marker-carrying case.
    val merged = lwwCells(graft.sources.KvDelete
      .applyMarkers(state.unionByName(delta), markerSource = delta)._1)
    val piv = KvPivot.pivot(merged, EventCols, family = Some("f"))
    piv.select(col("rowKey") +: EventCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  /** The state+delta merge recipe CROSSING A RETENTION PASS (r17): the
    * materialized LWW cell state of version 0 merged with the
    * `(0, latest]` feed — whose content is the pass's exact-version drop
    * records — must equal the LWW view of the post-retention table. The
    * marker-safe recipe ([[graft.sources.KvDelete.applyMarkers]] over
    * state ∪ delta) drops state entries the pass erased and discards the
    * marker cells; a consumer that skipped application would emit the
    * reserved-qualifier marker rows (extra rows → hash mismatch), and
    * one that over-applied would lose live winners. Oracle: the
    * TTL+versions retained set reduced to its per-coordinate LWW row,
    * with the byte-max value tie-break spelled out.
    */
  def kvStateMergeRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureTtlCompactCells(spark, sfDir)
    val state = lwwCells(spark.read.format("graft-kv")
      .option("asOfSeq", 0).load(path))
    val delta = spark.read.format("graft-kv").option("sinceSeq", 0).load(path)
      .select("rowKey", "family", "qualifier", "value", "ts")
    lwwCells(graft.sources.KvDelete
      .applyMarkers(state.unionByName(delta), markerSource = delta)._1)
      .select(col("rowKey"), col("qualifier"),
        decode(col("value"), "UTF-8").as("value"), col("ts"))
  }

  private[graft] lazy val kvStateMergeRetentionSql: String =
    s"""WITH g AS (${genCellsSql(VersionRecords, GenTasks, "run1")}),
       |f AS (SELECT * FROM g WHERE ts >= $TtlCompactCutoff),
       |m AS (SELECT *, row_number() OVER (PARTITION BY rowKey, qualifier
       |        ORDER BY ts DESC, value) AS rn FROM f),
       |ret AS (SELECT rowKey, qualifier, value, ts FROM m WHERE rn <= 2),
       |w AS (SELECT *, row_number() OVER (PARTITION BY rowKey, qualifier
       |        ORDER BY ts DESC, value DESC) AS rn2 FROM ret)
       |SELECT rowKey, qualifier, value, ts FROM w WHERE rn2 = 1""".stripMargin

  /** The SemDeDup verdicts applied to the ACTUAL corpus — the end of the
    * semantic-dedup pipeline: survivors of [[Dedup.semanticDedup]] at a
    * similarity threshold the synthetic corpus naturally exceeds
    * (0.35 — ~30 real drops; embeddings and documents share ids) joined
    * back to `documents`, each survivor carrying how many near-semantic
    * docs it absorbed. The dedup join is the cell equi-join; the absorbed
    * counts and the documents join are id equi-joins AQE broadcasts.
    */
  def pipeSemanticCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    // balanced (r22): the centroid-assign + within-cell pair rescore is
    // the heavy narrow work here and ran on one task over the
    // single-row-group embeddings fixture (semdecomp probe: verdicts
    // 1.04 → 0.67 s balanced). dedup_semantic keeps the raw loader — its
    // whole verdict pass is ~0.24 s, under the balance rule's bar.
    val verdicts = graft.ext.Dedup.semanticDedup(embedsBalanced(spark, sfDir),
      thresholdX1000 = 350L)
    val absorbed = verdicts.filter(col("is_dup"))
      .groupBy(col("kept_by").as("vec_id")).agg(count(lit(1)).as("pruned"))
    verdicts.filter(!col("is_dup")).select(col("vec_id"), col("cell"))
      .join(absorbed, Seq("vec_id"), "left")
      .na.fill(0L, Seq("pruned"))
      .join(docs(spark, sfDir).select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars")),
        col("vec_id") === col("doc_id"))
      .select(col("doc_id"), col("cell"), col("pruned"), col("n_chars"))
  }

  private[graft] lazy val pipeSemanticCorpusSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
       |c AS (SELECT c_id, cv, sqrt(${dotSql("cv", "cv")}) AS cn
       |      FROM (VALUES $ivfCentroidValues) t(c_id, cv)),
       |sc AS (SELECT n.vec_id, c.c_id,
       |         floor(${dotSql("n.v", "c.cv")} * 1000000 / (n.nrm * c.cn))::BIGINT AS s
       |       FROM n CROSS JOIN c),
       |rk AS (SELECT vec_id, c_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c_id) AS r
       |       FROM sc),
       |asg AS (SELECT vec_id, c_id AS cell FROM rk WHERE r = 1),
       |drops AS (SELECT d.vec_id AS vec_id, min(k.vec_id) AS kept_by
       |  FROM asg d
       |  JOIN asg k ON k.cell = d.cell AND k.vec_id < d.vec_id
       |  JOIN n a ON a.vec_id = d.vec_id
       |  JOIN n b ON b.vec_id = k.vec_id
       |  WHERE floor(${dotSql("a.v", "b.v")} * 1000 / (a.nrm * b.nrm)) >= 350
       |  GROUP BY 1),
       |ab AS (SELECT kept_by AS vec_id, count(*) AS pruned FROM drops GROUP BY 1)
       |SELECT s.vec_id AS doc_id, s.cell::BIGINT AS cell,
       |  coalesce(ab.pruned, 0)::BIGINT AS pruned,
       |  length(d.text)::BIGINT AS n_chars
       |FROM (SELECT a.vec_id, a.cell FROM asg a
       |      LEFT JOIN drops dr ON dr.vec_id = a.vec_id
       |      WHERE dr.vec_id IS NULL) s
       |LEFT JOIN ab ON ab.vec_id = s.vec_id
       |JOIN documents d ON d.doc_id = s.vec_id""".stripMargin

  /** A MONOLITH region: the whole events cell table sorted into one file
    * with small row groups (the shape of a region a giant batch sealed
    * before any maintenance split normalized it).
    */
  private[graft] def ensureMonolithCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"monolith_cells|$sfDir", _ => {
      val path = artifactPath("monolith_cells", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      KvTable.eventsAsCells(spark, sfDir)
        .orderBy("rowKey", "qualifier").coalesce(1)
        .write.option("parquet.block.size", 64 * 1024)
        .mode("overwrite").parquet(path)
      path
    })

  /** The events pivot over a MONOLITH region read with `splitRegionBytes`:
    * the scan fans the single file over byte-range partitions (each row
    * group to exactly one range — the intra-region parallelism path), and
    * the hash-shuffle pivot is indifferent to where the ranges cut, so
    * the result must equal the plain pivot bit-for-bit. Same oracle as
    * `kv_pivot_events`.
    */
  def kvSplitScan(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = spark.read.format("graft-kv")
      .option("splitRegionBytes", 256 * 1024)
      .load(ensureMonolithCells(spark, sfDir))
    val piv = KvPivot.pivot(cells, EventCols, family = Some("f"))
    piv.select(col("rowKey") +: EventCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  /** The hbck consistency report over the staged table, as (check, count)
    * rows. The oracle is the exact expected accounting: 2 live compacted
    * regions (stats+bloom covered), 4 merged-away segments pending vacuum,
    * 2 snapshot-pinned survivors of the overwrite, 1 orphan stray, 3 log
    * entries since the overwrite reset — and `healthy`=1 because nothing
    * referenced is missing. Any mis-bucketed file hash-mismatches.
    */
  def kvFsck(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = ensureFsckTable(spark, sfDir)
    graft.sources.KvFsck.check(spark, path).rows.toDF("check_name", "n")
  }

  private[graft] val kvFsckSql: String =
    """SELECT * FROM (VALUES
      |  ('live_files', CAST(2 AS BIGINT)),
      |  ('live_missing', CAST(0 AS BIGINT)),
      |  ('stats_coverage', CAST(2 AS BIGINT)),
      |  ('bloom_coverage', CAST(2 AS BIGINT)),
      |  ('pending_removals', CAST(4 AS BIGINT)),
      |  ('snapshot_pinned', CAST(2 AS BIGINT)),
      |  ('snapshot_missing', CAST(0 AS BIGINT)),
      |  ('orphans', CAST(1 AS BIGINT)),
      |  ('scratch_dirs', CAST(0 AS BIGINT)),
      |  ('log_entries', CAST(3 AS BIGINT)),
      |  ('bounds_inverted', CAST(0 AS BIGINT)),
      |  ('tail_marks', CAST(0 AS BIGINT)),
      |  ('tombstone_files', CAST(0 AS BIGINT)),
      |  ('live_tombstones', CAST(0 AS BIGINT)),
      |  ('drop_files', CAST(0 AS BIGINT)),
      |  ('drop_missing', CAST(0 AS BIGINT)),
      |  ('healthy', CAST(1 AS BIGINT)))
      |  AS t(check_name, n)""".stripMargin

  /** Table-stats inspection served ENTIRELY from metadata: COUNT(*),
    * MIN/MAX(rowKey) and MIN/MAX(ts) push into the `graft-kv` scan and are
    * answered from the manifest's writer-collected per-file stats — zero
    * data-file opens (counting-FS spec pins it), one manifest replay on a
    * 100-TB table. The rowKey bounds are manifest-ONLY (parquet footer
    * string stats may be truncated; writer-collected bounds are exact —
    * a stat-less legacy file anywhere in the plan refuses the key push).
    */
  def kvStatsBounds(spark: SparkSession, sfDir: String): DataFrame =
    kvSourceCells(spark, sfDir).agg(
      count(lit(1)).as("n_cells"),
      min(col("rowKey")).as("min_key"), max(col("rowKey")).as("max_key"),
      min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))

  private[graft] val kvStatsBoundsSql: String =
    """SELECT count(*) AS n_cells,
      |  min(lpad(CAST(user_id AS VARCHAR), 8, '0')) AS min_key,
      |  max(lpad(CAST(user_id AS VARCHAR), 8, '0')) AS max_key,
      |  min(event_id) AS min_ts, max(event_id) AS max_ts
      |FROM events""".stripMargin

  /** The events cells as an EPOCH PILE: 4 interleaved appends (each holding
    * every 4th user, so every epoch spans the whole keyspace — min/max
    * bounds cannot prune between them). The shape a streaming sink leaves
    * behind, and the one the manifest rowKey blooms exist for.
    */
  private[graft] def ensureEpochCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"epoch_cells|$sfDir", _ => {
      val path = artifactPath("epoch_cells", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      val cells = KvTable.eventsAsCells(spark, sfDir)
      (0 until 4).foreach { i =>
        cells.filter(pmod(col("rowKey").cast("int"), lit(4)) === i)
          .write.format("graft-kv").option("regions", 2)
          .mode("append").save(path)
      }
      path
    })

  /** The HBase Get: `rowKey = k` against an epoch-piled table. Every epoch
    * spans the keyspace, so range pruning keeps all of them; the
    * MANIFEST-CARRIED ROW BLOOM ([[graft.sources.KvBloom]]) keeps only the
    * segments that may hold the key (~1 + fpp) at planning time —
    * KvBloomSpec meters that unkept segments are never opened. At 100 TB
    * this is the difference between a point lookup scheduling one task and
    * scheduling one per epoch ever ingested.
    */
  def kvPointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = spark.read.format("graft-kv")
      .load(ensureEpochCells(spark, sfDir))
    cells.filter(col("rowKey") === "00000005")
      .groupBy(col("rowKey"), col("qualifier"))
      .agg(count(lit(1)).as("n_cells"), max(col("ts")).as("max_ts"))
  }

  private[graft] val kvPointLookupSql: String =
    """SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
      |  event_type AS qualifier,
      |  count(*) AS n_cells, max(event_id) AS max_ts
      |FROM events
      |WHERE lpad(CAST(user_id AS VARCHAR), 8, '0') = '00000005'
      |GROUP BY 1, 2""".stripMargin

  /** A persisted user dimension (rowKey, uid) for the runtime-pruned join
    * — parquet with a selective filter is the shape Spark's dynamic
    * pruning triggers on.
    */
  private[graft] def ensureUserDim(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"user_dim|$sfDir", _ => {
      val path = artifactPath("user_dim", sfDir)
      KvTable.table(spark, sfDir, "events")
        .select(lpad(col("user_id").cast("string"), 8, "0").as("rowKey"),
          col("user_id").as("uid"))
        .distinct()
        .write.mode("overwrite").parquet(path)
      path
    })

  /** The runtime-pruned point-lookup join (HBase multi-get routing,
    * [[graft.sources.KvCellSource]] `SupportsRuntimeV2Filtering`): a
    * selective user dim broadcast-joins the cell table on rowKey, Spark
    * ships the build side's key set to the scan at execution, and whole
    * region files holding none of the keys are never scheduled. The
    * oracle pins the join's cell counts; the counting-FS spec and
    * PlanSpec pin the pruning itself.
    */
  def kvRuntimePrune(spark: SparkSession, sfDir: String): DataFrame = {
    val kv = kvSourceCells(spark, sfDir)
    val dim = spark.read.parquet(ensureUserDim(spark, sfDir))
      .filter(pmod(col("uid"), lit(97)) === 0)
    kv.join(broadcast(dim.select(col("rowKey"))), "rowKey")
      .groupBy(col("rowKey"))
      .agg(count(lit(1)).as("n_cells"), max(col("ts")).as("max_ts"))
  }

  private[graft] val kvRuntimePruneSql: String =
    """SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
      |  count(*) AS n_cells, max(event_id) AS max_ts
      |FROM events WHERE user_id % 97 = 0 GROUP BY 1""".stripMargin

  /** Cells keyed by UNIQUE event_id across two OVERLAPPING commits (the
    * LSM shape — both commits span the whole key range, so no region file
    * can be pruned and every file may hold globally-extreme keys). Unique
    * keys make a rowKey top-n deterministic for the oracle.
    */
  private[graft] def ensureTailKeyCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"tailkey_cells|$sfDir", _ => {
      val path = artifactPath("tailkey_cells", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      val cells = KvTable.table(spark, sfDir, "events").select(
        lpad(col("event_id").cast("string"), 10, "0").as("rowKey"),
        lit("f").as("family"),
        col("event_type").as("qualifier"),
        encode(floor(col("value") * 100).cast("string"), "UTF-8").as("value"),
        col("event_id").as("ts"))
      (0 until 2).foreach { i =>
        cells.filter(pmod(col("ts"), lit(2)) === i)
          .write.format("graft-kv").option("regions", 4)
          .mode("append").save(path)
      }
      path
    })

  /** O2's DESC mirror — the "newest keys" console inspection
    * (AvroReader.java:27-30's read limit pointed at the key tail):
    * `ORDER BY rowKey DESC LIMIT 20` pushes as a DESC top-n into the
    * `graft-kv` scan, so each region-file task ring-buffers its tail and
    * emits O(20) rows — and with no filters reads only its tail row
    * groups — instead of surfacing the whole file to a global sort
    * ([[graft.sources.KvTailPartitionReader]]; PlanSpec asserts the
    * pushed form).
    */
  def readerTopnDesc(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("graft-kv").load(ensureTailKeyCells(spark, sfDir))
      .orderBy(col("rowKey").desc).limit(20)
      .select(col("rowKey"), col("qualifier"),
        decode(col("value"), "UTF-8").as("value"), col("ts"))

  private[graft] val readerTopnDescSql: String =
    """SELECT lpad(CAST(event_id AS VARCHAR), 10, '0') AS rowKey,
      |  event_type AS qualifier,
      |  CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS value,
      |  event_id AS ts
      |FROM events ORDER BY rowKey DESC LIMIT 20""".stripMargin

  private[graft] val kvPivotEventsSql: String = {
    val aggs = EventCols.map { c =>
      s"max_by(CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR), event_id) FILTER (WHERE event_type = '$c') AS $c"
    }.mkString(", ")
    s"SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey, $aggs FROM events GROUP BY 1"
  }

  // ------------------------------------------------------------- P1–P4 / F5

  /** P1–P2 + P4: schema-ordered delimited projection with rowKey injection —
    * the schema has a KEY column no qualifier provides, so it is filled with
    * the row key; missing cells render as empty strings.
    */
  def kvPivotInject(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvTable.eventsAsCells(spark, sfDir)
    val schemaCols = Seq("click", "view", "KEY")
    val piv = KvPivot.pivot(cells, schemaCols, rowKeyCol = Some("KEY"))
    KvPivot.projectDelimited(piv, schemaCols)
  }

  private[graft] val kvPivotInjectSql: String =
    """SELECT rowKey,
      |  coalesce(click, '') AS click, coalesce(view, '') AS view, rowKey AS KEY
      |FROM (
      |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
      |    max_by(CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR), event_id)
      |      FILTER (WHERE event_type = 'click') AS click,
      |    max_by(CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR), event_id)
      |      FILTER (WHERE event_type = 'view') AS view
      |  FROM events GROUP BY 1)""".stripMargin

  /** F5: one delimited line per pivoted row (the delimited-text export body,
    * Txt:166-186) — absent cells are empty fields *between* delimiters.
    */
  def kvDelimitedLines(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvTable.eventsAsCells(spark, sfDir)
    val piv = KvPivot.pivot(cells, EventCols)
    val decoded = piv.select(
      col("rowKey") +: EventCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
    decoded.select(KvPivot.lineOf("rowKey" +: EventCols, "|").as("line"))
  }

  private[graft] val kvDelimitedLinesSql: String = {
    val aggs = EventCols.map { c =>
      s"max_by(CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR), event_id) FILTER (WHERE event_type = '$c') AS $c"
    }.mkString(", ")
    val parts = ("rowKey" +: EventCols).map(c => s"coalesce($c, '')").mkString(", ")
    s"""SELECT concat_ws('|', $parts) AS line FROM (
       |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey, $aggs
       |  FROM events GROUP BY 1)""".stripMargin
  }

  // ---------------------------------------------------------------- G1 / G2

  private[graft] val GenRecords = 1000L
  private[graft] val GenTasks = 4

  /** G1/G2: the deterministic KV generator (PopulateTable semantics), values
    * decoded to strings for the oracle.
    */
  def kvGenCells(spark: SparkSession, sfDir: String): DataFrame =
    KvGenerator.cells(spark, GenRecords, GenTasks, "run1").select(
      col("rowKey"), col("family"), col("qualifier"),
      decode(col("value"), "UTF-8").as("value"), col("ts"))

  /** Oracle regeneration of KvGenerator.cells (values decoded). */
  private[graft] def genCellsSql(records: Long, tasks: Int, runId: String): String =
    s"""SELECT
       |  concat(lpad(CAST(((t.id + 1) * ${KvGenerator.KeyMixer}) % ${KvGenerator.KeySpace} AS VARCHAR), 5, '0'),
       |         '|$runId|', CAST(t.id % $tasks AS VARCHAR)) AS rowKey,
       |  'c' AS family,
       |  concat('C', CAST(c.i AS VARCHAR)) AS qualifier,
       |  concat('counter:', CAST(t.id * 10 + c.i AS VARCHAR)) AS value,
       |  t.id * 10 + c.i AS ts
       |FROM range(0, $records) t(id), range(0, 10) c(i)""".stripMargin

  private[graft] val kvGenCellsSql: String = genCellsSql(GenRecords, GenTasks, "run1")

  /** The HBase snapshot/restore cycle end-to-end ([[graft.sources.KvSnapshot]]):
    * write the generator cells, SNAPSHOT (zero data copied — a
    * self-contained manifest of the live set), append junk, RESTORE (one
    * metadata commit republishing the pinned set), scan. The result must
    * be exactly the pre-junk table, which the oracle regenerates
    * independently — proving the rollback surgically removed the junk
    * epoch and nothing else. Snapshots survive log truncation and are
    * vacuum-protected (KvSnapshotSpec); at 100 TB both directions cost
    * O(files) driver metadata, never a data rewrite.
    */
  def kvSnapshotRestore(spark: SparkSession, sfDir: String): DataFrame = {
    val path = artifacts.computeIfAbsent(s"snapshot_restore|$sfDir", _ => {
      val p = artifactPath("snapshot_restore", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, p)
      KvGenerator.cells(spark, GenRecords, GenTasks, "run1")
        .write.format("graft-kv").option("regions", 4)
        .mode("append").save(p)
      graft.sources.KvSnapshot.create(spark, p, "golden")
      KvGenerator.cells(spark, 200, 2, "junk")
        .write.format("graft-kv").option("regions", 1)
        .mode("append").save(p)
      graft.sources.KvSnapshot.restore(spark, p, "golden")
      p
    })
    spark.read.format("graft-kv").load(path).select(
      col("rowKey"), col("family"), col("qualifier"),
      decode(col("value"), "UTF-8").as("value"), col("ts"))
  }

  /** The shuffle-free pivot (map-only export, Txt:85): generated cells laid
    * out in range partitions sorted by rowKey (the HBase region invariant),
    * then pivoted per-partition with zero further exchanges. 40k records >
    * KeySpace, so duplicate rowKeys exist and the LWW merge path is
    * genuinely oracle-exercised (the key mixer is a bijection mod 2^15 —
    * runs under 32768 records have NO collisions).
    */
  private[graft] val PresortedRecords = 40000L
  private[graft] val PresortedCols = Seq("C0", "C5", "C9")

  /** Shared tail of the two presorted-pivot queries (one oracle serves
    * both, keyed to these columns — keep the projection in ONE place).
    */
  private[graft] def decodedPresortedPivot(laid: DataFrame): DataFrame = {
    val piv = KvPivot.pivotPresorted(laid, PresortedCols)
    piv.select(col("rowKey") +:
      PresortedCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  /** The colliding-key generator run staged as a COMPACTED `graft-kv`
    * table: two overlapping commits merged by a major compaction into 8
    * disjoint sorted region files — the bulk-load layout, certified for
    * the shuffle-free pivot from MANIFEST STATS alone
    * ([[graft.sources.KvTableInfo.disjointSortedRegions]]).
    */
  private[graft] def ensurePresortedKv(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"presorted_kv|$sfDir", _ => {
      val path = artifactPath("presorted_kv", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      val cells = KvGenerator.cells(spark, PresortedRecords, GenTasks, "run1")
      (0 until 2).foreach { i =>
        cells.filter(pmod(col("ts"), lit(2)) === i)
          .write.format("graft-kv").option("regions", 4)
          .mode("append").save(path)
      }
      val res = graft.sources.KvCompactor.compact(spark, path, regions = 8)
      require(res.isInstanceOf[graft.sources.KvCompactor.Compacted],
        s"kv_pivot_presorted staging expected a compaction, got $res")
      path
    })

  /** r11: routed THROUGH the `graft-kv` connector over the compacted
    * artifact — the scan plans one partition per region file, the
    * certification proves every rowKey confined to one sorted file, and
    * the per-partition streaming pivot adds zero exchanges on top (the
    * whole query plans without a single shuffle; PlanSpec asserts it).
    * This unifies the bucketed-catalog fast path with the connector path:
    * both are now "certified layout ⇒ map-only pivot".
    */
  def kvPivotPresorted(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensurePresortedKv(spark, sfDir)
    require(graft.sources.KvTableInfo.disjointSortedRegions(spark, path),
      s"kv_pivot_presorted: $path must certify the bulk-load invariant")
    decodedPresortedPivot(spark.read.format("graft-kv").load(path))
  }

  /** The colliding-key generator run as a SALTED, compacted table: the
    * hot-key-ingest layout (16 salt buckets) merged into 8 disjoint
    * STORED-key-sorted region files.
    */
  private[graft] def ensureSaltedPresortedKv(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"salted_presorted_kv|$sfDir", _ => {
      val path = artifactPath("salted_presorted_kv", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      val cells = KvGenerator.cells(spark, PresortedRecords, GenTasks, "run1")
      (0 until 2).foreach { i =>
        graft.sources.KvSalt.saltedWrite(
          cells.filter(pmod(col("ts"), lit(2)) === i), path, n = 16,
          regions = 4, mode = "append")
      }
      val res = graft.sources.KvCompactor.compact(spark, path, regions = 8)
      require(res.isInstanceOf[graft.sources.KvCompactor.Compacted],
        s"kv_pivot_salted staging expected a compaction, got $res")
      path
    })

  /** CloneSnapshot end-to-end under the oracle gate (r12 — the clone path
    * was spec-only in r11): a generator table is snapshotted and cloned
    * to a NEW directory (distributed file copy + fresh cfg-carrying
    * manifest), the SOURCE then mutates (junk append) — and the scan of
    * the CLONE must still equal the original table exactly: clones are
    * independent, pinned at snapshot time.
    */
  def kvCloneScan(spark: SparkSession, sfDir: String): DataFrame = {
    val path = artifacts.computeIfAbsent(s"clone_scan|$sfDir", _ => {
      val src = artifactPath("clone_scan_src", sfDir)
      val dst = artifactPath("clone_scan_dst", sfDir)
      Seq(src, dst).foreach(graft.sinks.Sinks.deleteRecursive(spark, _))
      KvGenerator.cells(spark, GenRecords, GenTasks, "run1")
        .write.format("graft-kv").option("regions", 4)
        .mode("append").save(src)
      graft.sources.KvSnapshot.create(spark, src, "forClone")
      graft.sources.KvSnapshot.cloneTo(spark, src, "forClone", dst)
      // the source diverges AFTER the clone — the clone must not see it
      KvGenerator.cells(spark, 200, 2, "junk")
        .write.format("graft-kv").option("regions", 1)
        .mode("append").save(src)
      dst
    })
    spark.read.format("graft-kv").load(path).select(
      col("rowKey"), col("family"), col("qualifier"),
      decode(col("value"), "UTF-8").as("value"), col("ts"))
  }

  private[graft] val kvCloneScanSql: String =
    s"""SELECT rowKey, family, qualifier, value, ts
       |FROM (${genCellsSql(GenRecords, GenTasks, "run1")})""".stripMargin

  /** The SHUFFLE-FREE pivot on a SALTED table (r12 — closes the round-11
    * "salted tables refuse presorted certification" gap): the invariant
    * the per-partition streaming group needs is KEY CONTIGUITY, not
    * logical sort — one logical key maps to one stored key, so a
    * stored-space disjoint-sorted layout keeps every key's cells adjacent
    * in one partition even though buckets interleave the logical order
    * ([[graft.sources.KvTableInfo.keyContiguousRegions]]). Same oracle as
    * the unsalted presorted pivot — the salt is invisible end to end —
    * and PlanSpec asserts zero exchanges. At scale this restores the
    * map-only export on exactly the layout designed for hot-key ingest.
    */
  def kvPivotSalted(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureSaltedPresortedKv(spark, sfDir)
    require(graft.sources.KvTableInfo.keyContiguousRegions(spark, path),
      s"kv_pivot_salted: $path must certify stored-space key contiguity")
    require(!graft.sources.KvTableInfo.disjointSortedRegions(spark, path),
      "kv_pivot_salted: the strict logical-order certification must still " +
        "refuse a salted table — only the contiguity tier admits it")
    decodedPresortedPivot(spark.read.format("graft-kv").load(path))
  }

  /** r13 (closes the r11/r12 "caller-routed fast path" gap): the pivot
    * whose PHYSICAL STRATEGY the table chooses —
    * [[graft.ops.KvPivot.pivotAuto]] consults the manifest certification
    * and takes the zero-exchange per-partition pivot on this compacted
    * table WITHOUT the caller naming it (PlanSpec asserts no Exchange and
    * the negative routes: LSM-overlapped, legacy, and tombstoned tables
    * fall back to the hash pivot). Same oracle as `kv_pivot_presorted`.
    */
  def kvPivotAuto(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensurePresortedKv(spark, sfDir)
    val strategy = KvPivot.autoStrategy(spark, path)
    require(strategy == "presorted",
      s"kv_pivot_auto: the compacted table at $path must auto-route to " +
        "the exchange-free pivot")
    // One consult serves both the guard and the route — pivotAuto would
    // otherwise replay the manifest a second time inside a timed query.
    val piv = KvPivot.pivotAuto(spark, path, PresortedCols,
      strategy = Some(strategy))
    piv.select(col("rowKey") +:
      PresortedCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  /** 100k records over the 32768-key space ⇒ version depth up to 4 per
    * (rowKey, C0) coordinate — deeper than the retention k, so the oracle
    * gate genuinely exercises EVICTION (at 40k records depth maxes at
    * exactly k=2 and the filter would keep everything, hiding a broken
    * retention bound).
    */
  private[graft] val VersionRecords = 100000L

  /** HBase version retention (DEFAULT_VERSIONS) over the colliding-key
    * generator run: keep the 2 newest versions per (rowKey, C0) cell —
    * coordinates carry up to 4 versions, so older ones are provably
    * evicted.
    */
  def kvVersionsRetain(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvGenerator.cells(spark, VersionRecords, GenTasks, "run1")
      .filter(col("qualifier") === "C0")
    KvPivot.retainVersions(cells, k = 2)
      .select(col("rowKey"), col("qualifier"), col("version"),
        decode(col("value"), "UTF-8").as("value"), col("ts"))
  }

  /** TTL expiry over the generated cells: "now" = the newest cell ts, TTL
    * = half the ts range — the older half of every coordinate's history
    * expires, the survivor set is oracle-checked per cell.
    */
  def kvTtlExpire(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvGenerator.cells(spark, GenRecords, GenTasks, "run1")
    val now = GenRecords * 10 - 1 // max ts: id*10+c over records×10 cells
    KvPivot.expireCells(cells, now, ttl = now / 2)
      .select(col("rowKey"), col("qualifier"),
        decode(col("value"), "UTF-8").as("value"), col("ts"))
  }

  /** HBase delete-marker compaction ([[KvPivot.compactTombstones]]): every
    * third generated record's C9 write doubles as a "delete C0 as of my ts"
    * column tombstone (C9 ts = id*10+9, so id % 3 == 0 ⟺ ts % 30 == 9);
    * the compacted output keeps only C0/C1 puts that survive the newest
    * masking tombstone at their coordinate. C1 has no tombstones (full
    * history survives); C0's colliding version stacks (up to depth 4 at 100k
    * records over the 32768-key space) are genuinely masked. One exchange,
    * no join — the marker max is a partition-key analytic over the unioned
    * relation.
    */
  def kvCompactTombstones(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvGenerator.cells(spark, VersionRecords, GenTasks, "run1")
    val puts = cells.filter(col("qualifier").isin("C0", "C1"))
    val tombs = cells
      .filter(col("qualifier") === "C9" && col("ts") % 30 === 9)
      .select(col("rowKey"), lit("C0").as("qualifier"), col("ts"))
    KvPivot.compactTombstones(puts, tombs)
      .select(col("rowKey"), col("qualifier"),
        decode(col("value"), "UTF-8").as("value"), col("ts"))
  }

  private[graft] val kvCompactTombstonesSql: String =
    s"""WITH g AS (${genCellsSql(VersionRecords, GenTasks, "run1")}),
       |u AS (
       |  SELECT rowKey, qualifier, value, ts, FALSE AS tomb FROM g
       |  WHERE qualifier IN ('C0', 'C1')
       |  UNION ALL
       |  SELECT rowKey, 'C0' AS qualifier, NULL AS value, ts, TRUE AS tomb
       |  FROM g WHERE qualifier = 'C9' AND ts % 30 = 9),
       |m AS (SELECT *, max(CASE WHEN tomb THEN ts END)
       |        OVER (PARTITION BY rowKey, qualifier) AS tmax FROM u)
       |SELECT rowKey, qualifier, value, ts
       |FROM m WHERE NOT tomb AND (tmax IS NULL OR ts > tmax)""".stripMargin

  /** PHYSICAL cell GC in the compaction rewrite ([[graft.sources.KvCompactor.CellPolicy]]
    * — the HBase compaction-scanner contract: TTL and `VERSIONS => k` are
    * enforced where store files are rewritten, the only place dead cells
    * physically disappear; without it a 100-TB table only grows). The
    * fixture writes the 1M-cell version-stacked generator table, then
    * MAJOR-compacts with ts-watermark + keep-2-versions policy; the scan
    * of the compacted table must equal the oracle's declarative
    * filter+rank over the regenerated cells — proving the rewrite dropped
    * exactly the dead cells and nothing else. Distinct from
    * `kv_ttl_expire`/`kv_versions_retain`, which compute the same
    * semantics as READ-TIME operators over unmodified data.
    */
  private[graft] def ensureTtlCompactCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"ttl_compact|$sfDir", _ => {
      val p = artifactPath("ttl_compact", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, p)
      KvGenerator.cells(spark, VersionRecords, GenTasks, "run1")
        .write.format("graft-kv").option("regions", 4)
        .mode("append").save(p)
      val res = graft.sources.KvCompactor.compact(spark, p, regions = 4,
        selection = graft.sources.KvCompactor.Major,
        cellPolicy = graft.sources.KvCompactor.CellPolicy(
          dropBelowTs = Some(TtlCompactCutoff), maxVersions = Some(2)))
      require(res.isInstanceOf[graft.sources.KvCompactor.Compacted],
        s"ttl_compact fixture compaction did not publish: $res")
      require(res.asInstanceOf[graft.sources.KvCompactor.Compacted].dropped > 0,
        s"ttl_compact fixture pass dropped no cells: $res")
      p
    })

  def kvTtlCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureTtlCompactCells(spark, sfDir)
    spark.read.format("graft-kv").load(path).select(
      col("rowKey"), col("qualifier"),
      decode(col("value"), "UTF-8").as("value"), col("ts"))
  }

  /** CDC ACROSS A RETENTION PASS (r17 — the Delta CDF delete-row shape
    * over the manifest log): the span `(0, latest]` of the ttl_compact
    * staging crosses the TTL+versions compaction, and instead of
    * refusing (the pre-r17 behavior) it ships the pass's DROP RECORDS —
    * exact-version delete markers the compactor staged next to its
    * merge outputs ([[graft.sources.KvLog.Entry.dropFiles]]). The query
    * replays the incremental-consumer contract end to end: baseline
    * state at the span start, plus the feed, with the markers applied
    * ([[graft.sources.KvDelete.applyVersionMarkers]]), must equal the
    * post-retention table EXACTLY — the same oracle as `kv_ttl_compact`.
    * A feed that missed drops would keep dead cells (extra rows); one
    * that over-dropped would lose live ones — both hash-mismatch.
    * Scale shape: the feed is O(changes) (drop records + later adds,
    * never the table), and the marker application is a broadcast anti
    * join — the consumer never rescans the base.
    */
  def kvRetentionChanges(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureTtlCompactCells(spark, sfDir)
    val baseline = spark.read.format("graft-kv")
      .option("asOfSeq", 0).load(path)
    val feed = spark.read.format("graft-kv")
      .option("sinceSeq", 0).load(path)
    graft.sources.KvDelete
      .applyVersionMarkers(baseline.unionByName(feed), markerSource = feed)
      .select(col("rowKey"), col("qualifier"),
        decode(col("value"), "UTF-8").as("value"), col("ts"))
  }

  /** RAW REPLICATION across a retention pass (r17 — the HBase
    * replication-peer contract, deletes replicate as cells): the
    * ttl_compact staging's baseline and its change feed (exact-version
    * drop markers included) land on a REPLICA table through the
    * ordinary sink, and the replica's scan must equal the retention-
    * compacted source — the replicated markers MASK the dropped
    * versions at read time ([[graft.sources.KvDelete.Mask]] version
    * entries, HBase `KeyValue.Type.Delete` semantics), and the
    * replica's own compaction later applies and purges them
    * (spec-pinned; this query gates the read-time half under the
    * DuckDB oracle — same expected state as `kv_ttl_compact`). A feed
    * that lost drops would leave the replica serving dead versions;
    * over-masking would lose live ones — both hash-mismatch.
    */
  def kvReplicatedRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val src = ensureTtlCompactCells(spark, sfDir)
    val path = artifacts.computeIfAbsent(s"replicated_retention|$sfDir", _ => {
      val p = artifactPath("replicated_retention", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, p)
      spark.read.format("graft-kv").option("asOfSeq", 0).load(src)
        .write.format("graft-kv").option("regions", 4)
        .mode("append").save(p)
      spark.read.format("graft-kv").option("sinceSeq", 0).load(src)
        .write.format("graft-kv").option("regions", 1)
        .option("allowTombstones", "true").mode("append").save(p)
      p
    })
    spark.read.format("graft-kv").load(path).select(
      col("rowKey"), col("qualifier"),
      decode(col("value"), "UTF-8").as("value"), col("ts"))
  }

  private[graft] val TtlCompactCutoff = VersionRecords * 10 / 2

  /** r15: DECLARATIVE retention — `versions` pinned as a TBLPROPERTY at
    * CREATE (HBase `VERSIONS => 2`, CreateTable.java:48-52) and enforced
    * PHYSICALLY by the table's own self-maintenance compaction
    * ([[graft.sources.KvMaintenance]] threads the declared policy into
    * [[graft.sources.KvCompactor.CellPolicy]]). Nothing in the query
    * path filters: the read shows at most 2 versions per coordinate
    * because the region files hold no more. (`ttl_ms` rides the same
    * declaration path; it is wall-clock-anchored per the HBase contract,
    * so the deterministic oracle pins `versions` and the catalog spec
    * pins ttl with a controlled clock.)
    */
  def kvRetentionDecl(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCatalog("retention_decl", "graftret_", spark, sfDir) {
      (name, _) =>
        spark.sql(
          s"""CREATE TABLE $name.corpus.cells (
             |  rowKey STRING, family STRING, qualifier STRING,
             |  value BINARY, ts BIGINT)
             |USING `graft-kv` TBLPROPERTIES ('regions' = '4',
             |  'maintain' = 'true', 'maintain_max_segments' = '1',
             |  'maintain_grace_ms' = '0', 'versions' = '2')""".stripMargin)
        val g = KvGenerator.cells(spark, VersionRecords, GenTasks, "run1")
        g.filter(col("ts") % 2 === 0)
          .createOrReplaceTempView("graft_ret_even")
        g.filter(col("ts") % 2 === 1)
          .createOrReplaceTempView("graft_ret_odd")
        spark.sql(s"INSERT INTO $name.corpus.cells SELECT * FROM graft_ret_even")
        // This commit crosses maintain_max_segments=1: the post-commit
        // pass merges both segments, dropping versions past the declared
        // retention during the rewrite.
        spark.sql(s"INSERT INTO $name.corpus.cells SELECT * FROM graft_ret_odd")
        // Idempotent closing pass (the admin's off-peak CALL): a no-op
        // when the write-triggered pass already normalized the layout.
        spark.sql(s"CALL $name.sys.maintain(table => 'corpus.cells')")
          .collect(): Unit
    }
    spark.table(s"$cat.corpus.cells").select(
      col("rowKey"), col("qualifier"),
      decode(col("value"), "UTF-8").as("value"), col("ts"))
  }

  private[graft] val kvRetentionDeclSql: String =
    s"""WITH g AS (${genCellsSql(VersionRecords, GenTasks, "run1")}),
       |m AS (SELECT *, row_number() OVER (PARTITION BY rowKey, qualifier
       |        ORDER BY ts DESC, value) AS rn FROM g)
       |SELECT rowKey, qualifier, value, ts FROM m WHERE rn <= 2""".stripMargin

  private[graft] val kvTtlCompactSql: String =
    s"""WITH g AS (${genCellsSql(VersionRecords, GenTasks, "run1")}),
       |f AS (SELECT * FROM g WHERE ts >= $TtlCompactCutoff),
       |m AS (SELECT *, row_number() OVER (PARTITION BY rowKey, qualifier
       |        ORDER BY ts DESC, value) AS rn FROM f)
       |SELECT rowKey, qualifier, value, ts FROM m WHERE rn <= 2""".stripMargin

  // ------------------------------------------------------- row deletes

  /** The half-max event-id cutoff the as-of-ts delete uses — computed from
    * the fixture so the same literal lands in the staged marker AND the
    * oracle predicate.
    */
  private[graft] def deleteCutoff(spark: SparkSession, sfDir: String): Long =
    KvTable.table(spark, sfDir, "events")
      .agg(max(col("event_id"))).head().getLong(0) / 2

  /** Stage three delete shapes against an events cell table
    * ([[graft.sources.KvDelete]]): whole-row erasure (user_id%10==3,
    * unbounded ts — the GDPR shape), an as-of-ts row delete at the
    * half-max cutoff (%10==5 — later events survive), and a column delete
    * of the 'view' qualifier (%10==4). Three small sorted marker commits;
    * no data file is rewritten.
    */
  private[graft] def stageEventDeletes(spark: SparkSession, sfDir: String,
      path: String): Unit = {
    val users = KvTable.table(spark, sfDir, "events")
      .select(col("user_id"),
        lpad(col("user_id").cast(org.apache.spark.sql.types.StringType), 8, "0")
          .as("rowKey"))
      .distinct()
    graft.sources.KvDelete.deleteRows(spark, path,
      users.filter(pmod(col("user_id"), lit(10)) === 3).select("rowKey"))
    graft.sources.KvDelete.deleteRows(spark, path,
      users.filter(pmod(col("user_id"), lit(10)) === 5).select("rowKey"),
      defaultTs = deleteCutoff(spark, sfDir))
    graft.sources.KvDelete.deleteColumns(spark, path,
      users.filter(pmod(col("user_id"), lit(10)) === 4)
        .select(col("rowKey"), lit("f").as("family"), lit("view").as("qualifier")))
  }

  private[graft] def ensureDeletedCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"deleted_cells|$sfDir", _ => {
      val path = artifactPath("deleted_cells", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      KvTable.eventsAsCells(spark, sfDir)
        .write.format("graft-kv").option("regions", 4).mode("append").save(path)
      stageEventDeletes(spark, sfDir, path)
      path
    })

  /** READ-TIME delete masking, end to end: the scan of the tombstoned
    * table must equal the oracle's declarative survivor set — rows erased,
    * the as-of-ts delete cutting exactly the event_id <= cutoff half, the
    * column delete scoped to its qualifier — with zero data rewritten
    * (the markers are the only new bytes; BASELINE.md records the
    * wholesale-rewrite alternative this replaces at 100 TB).
    */
  def kvDeleteMask(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("graft-kv").load(ensureDeletedCells(spark, sfDir))
      .select(col("rowKey"), col("qualifier"),
        decode(col("value"), "UTF-8").as("value"), col("ts"))

  /** The masked ZERO-EXCHANGE pivot (r14): [[KvPivot.pivotAuto]] keeps
    * the presorted route on a tombstoned table whose put-emitting files
    * are disjoint — read-time masking drops rows in-stream without
    * reordering, so per-partition key contiguity survives live markers
    * and the pure-marker delete segments emit nothing. The staging
    * REQUIRES the auto route to be presorted (a silent hash fallback
    * would pass the oracle while losing the plan this query pins); the
    * oracle is the delete-mask survivor set pushed through the pivot.
    */
  def kvPivotAutoMasked(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureDeletedCells(spark, sfDir)
    // One consult serves both the guard and the route — pivotAuto would
    // otherwise replay the manifest a second time inside a timed query.
    val route = KvPivot.autoStrategy(spark, path)
    require(route == "presorted",
      "kv_pivot_auto_masked: a tombstoned-but-disjoint table must keep " +
        "the zero-exchange route")
    val piv = KvPivot.pivotAuto(spark, path, EventCols, family = Some("f"),
      strategy = Some(route))
    piv.select(col("rowKey") +: EventCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  // def, not val: kvDeleteMaskSql is declared later in the file and a
  // val here would read null at object init
  private[graft] def kvPivotAutoMaskedSql: String = {
    val aggs = EventCols.map(c =>
      s"max_by(value, ts) FILTER (WHERE qualifier = '$c') AS $c").mkString(", ")
    s"""WITH s AS ($kvDeleteMaskSql)
       |SELECT rowKey, $aggs FROM s GROUP BY rowKey""".stripMargin
  }

  /** The same deletes PHYSICALLY APPLIED: a major compaction rewrites the
    * merged set with masked cells dropped and markers purged
    * ([[graft.sources.KvCompactor]] + [[graft.sources.KvDelete.applyMarkers]]),
    * so the identical oracle passing over the compacted table proves
    * purge-at-rewrite changes bytes, never visible data. The staging
    * additionally requires the manifest to record ZERO live tombstones
    * after the pass — the masked read path is provably idle again.
    */
  def kvDeleteCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val path = artifacts.computeIfAbsent(s"deleted_compact|$sfDir", _ => {
      val p = artifactPath("deleted_compact", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, p)
      KvTable.eventsAsCells(spark, sfDir)
        .write.format("graft-kv").option("regions", 4).mode("append").save(p)
      stageEventDeletes(spark, sfDir, p)
      val res = graft.sources.KvCompactor.compact(spark, p, regions = 4)
      require(res.isInstanceOf[graft.sources.KvCompactor.Compacted],
        s"kv_delete_compact staging expected a compaction, got $res")
      val dir = new org.apache.hadoop.fs.Path(p)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      require(graft.sources.KvLog.liveFileStats(fs, dir)
        .values.forall(_.tombstones == 0L),
        "kv_delete_compact: major compaction must purge every marker")
      p
    })
    spark.read.format("graft-kv").load(path)
      .select(col("rowKey"), col("qualifier"),
        decode(col("value"), "UTF-8").as("value"), col("ts"))
  }

  /** The NAMED-TABLE SQL surface ([[graft.sources.GraftKvCatalog]] — the
    * reference's actual UX: every CLI verb takes a table NAME,
    * App.java:14-30): a catalog is registered on the session, the events
    * cell table is created with `CREATE TABLE ... USING graft-kv`
    * (regions recorded as a table property), populated with a SQL
    * `INSERT INTO`, and queried by name with a pushed rowKey range — the
    * same pruned, range-sorted connector paths as the path API, now
    * reachable from pure SQL. Staging is setup (memoized per sfDir);
    * the timed query is the read.
    */
  def kvCatalogSql(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCatalogTable(spark, sfDir)
    spark.sql(
      s"""SELECT rowKey, qualifier, count(*) AS n_cells, max(ts) AS max_ts
         |FROM $cat.corpus.events_kv
         |WHERE rowKey >= '00000002' AND rowKey < '00000012'
         |GROUP BY rowKey, qualifier""".stripMargin)
  }

  private[graft] def ensureCatalogTable(spark: SparkSession, sfDir: String): String =
    ensureCatalog("catalog_sql", "graftcat_", spark, sfDir) { (name, _) =>
      spark.sql(
        s"""CREATE TABLE $name.corpus.events_kv (
           |  rowKey STRING, family STRING, qualifier STRING,
           |  value BINARY, ts BIGINT)
           |USING `graft-kv` TBLPROPERTIES ('regions' = '4')""".stripMargin)
      KvTable.eventsAsCells(spark, sfDir)
        .createOrReplaceTempView("graft_catalog_cells_src")
      spark.sql(
        s"INSERT INTO $name.corpus.events_kv SELECT * FROM graft_catalog_cells_src"): Unit
    }

  private[graft] val kvCatalogSqlSql: String =
    """SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
      |  event_type AS qualifier,
      |  count(*) AS n_cells, max(event_id) AS max_ts
      |FROM events
      |WHERE lpad(CAST(user_id AS VARCHAR), 8, '0') >= '00000002'
      |  AND lpad(CAST(user_id AS VARCHAR), 8, '0') < '00000012'
      |GROUP BY 1, 2""".stripMargin

  /** r15: the STORAGE-PARTITIONED-JOIN surface as an oracle query — a
    * same-table co-located join (each user's 'click' cells against their
    * 'view' cells — the wide-row family-join HBase pattern). Both sides
    * read the certified 4-region catalog table, so the scan's reported
    * `KeyGroupedPartitioning` ([[graft.sources.KvRegionLayout]]) plans
    * the join partition-wise AND feeds the downstream per-user
    * aggregation — ZERO shuffle exchanges end to end (PlanSpec pins it).
    * At 100 TB this is the difference between two table-sized hash
    * exchanges and none: the reference's analog is region-aligned scan
    * routing (one task per region,
    * ExportHBaseTableToDelimiteredTxt.java:75-80).
    */
  def kvColocatedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCatalogTable(spark, sfDir)
    spark.sql(
      s"""SELECT a.rowKey, count(*) AS n_pairs,
         |  max(a.ts) AS max_click_ts, max(b.ts) AS max_view_ts
         |FROM $cat.corpus.events_kv a JOIN $cat.corpus.events_kv b
         |  ON a.rowKey = b.rowKey
         |WHERE a.qualifier = 'click' AND b.qualifier = 'view'
         |GROUP BY a.rowKey""".stripMargin)
  }

  private[graft] val kvColocatedJoinSql: String =
    """WITH cells AS (
      |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
      |    event_type AS qualifier, event_id AS ts
      |  FROM events)
      |SELECT a.rowKey, count(*) AS n_pairs,
      |  max(a.ts) AS max_click_ts, max(b.ts) AS max_view_ts
      |FROM cells a JOIN cells b ON a.rowKey = b.rowKey
      |WHERE a.qualifier = 'click' AND b.qualifier = 'view'
      |GROUP BY 1""".stripMargin

  /** r13 (closes the last salted/unsalted WRITE asymmetry): a SALTED
    * catalog table populated by PLAIN SQL INSERT. The catalog injects
    * sink-side salting ([[graft.sources.KvCatalogTable]] →
    * `saltWrite`): logical-key rows ride the ordinary range exchange and
    * each partition demuxes into per-bucket stored-sorted files — the
    * caller never sees the salt on either side (Phoenix's contract).
    * Staging proves the layout wholesale: the salted commit must certify
    * stored-space contiguity ([[graft.sources.KvTableInfo]]). The timed
    * query is the same pruned logical-key range aggregation as
    * `kv_catalog_sql`, under the SAME oracle — salt invisible end to end.
    */
  def kvSaltedInsert(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCatalog("salted_insert", "graftsins_", spark, sfDir) { (name, wh) =>
      spark.sql(
        s"""CREATE TABLE $name.corpus.events_kv (
           |  rowKey STRING, family STRING, qualifier STRING,
           |  value BINARY, ts BIGINT)
           |USING `graft-kv`
           |TBLPROPERTIES ('regions' = '4', 'salt_buckets' = '8')""".stripMargin)
      KvTable.eventsAsCells(spark, sfDir)
        .createOrReplaceTempView("graft_salted_ins_src")
      spark.sql(
        s"INSERT INTO $name.corpus.events_kv SELECT * FROM graft_salted_ins_src")
      require(graft.sources.KvTableInfo.keyContiguousRegions(spark,
        s"$wh/corpus/events_kv"),
        "kv_salted_insert: the sink-salted commit must certify " +
          "stored-space contiguity")
    }
    spark.sql(
      s"""SELECT rowKey, qualifier, count(*) AS n_cells, max(ts) AS max_ts
         |FROM $cat.corpus.events_kv
         |WHERE rowKey >= '00000002' AND rowKey < '00000012'
         |GROUP BY rowKey, qualifier""".stripMargin)
  }

  /** The full SQL mutation surface over ONE catalog table (r12): CTAS
    * from the generator cells, then `UPDATE` (every C5 value patched — a
    * group-based copy-on-write rewrite through
    * [[graft.sources.KvRowLevelOperation]]), `DELETE` with a condition
    * markers cannot express (`ts % 10 = 9` ⇔ the C9 cells — the rewrite
    * fallback), `MERGE INTO` inserting 100 fresh-key rows, and a second
    * FULL-MATRIX merge (r13) driving all three branches in one
    * statement — WHEN MATCHED AND cond UPDATE / WHEN MATCHED DELETE /
    * WHEN NOT MATCHED INSERT — each an atomic manifest group swap
    * preserving the range-sorted layout. The oracle replays the whole
    * mutation history declaratively.
    */
  def kvSqlCrud(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCatalog("sql_crud", "graftcrud_", spark, sfDir) { (name, _) =>
      KvGenerator.cells(spark, GenRecords, GenTasks, "run1")
        .createOrReplaceTempView("graft_crud_cells_src")
      spark.sql(
        s"""CREATE TABLE $name.corpus.cells USING `graft-kv`
           |TBLPROPERTIES ('regions' = '4')
           |AS SELECT * FROM graft_crud_cells_src""".stripMargin)
      spark.sql(
        s"""UPDATE $name.corpus.cells
           |SET value = CAST('PATCHED' AS BINARY) WHERE qualifier = 'C5'""".stripMargin)
      spark.sql(s"DELETE FROM $name.corpus.cells WHERE ts % 10 = 9")
      spark.range(100).selectExpr(
          "concat('zz', lpad(CAST(id AS STRING), 4, '0')) AS rowKey",
          "'c' AS family", "'CX' AS qualifier",
          "encode(concat('ins', CAST(id AS STRING)), 'UTF-8') AS value",
          "CAST(1000000 + id AS BIGINT) AS ts")
        .createOrReplaceTempView("graft_crud_merge_src")
      spark.sql(
        s"""MERGE INTO $name.corpus.cells t
           |USING graft_crud_merge_src s
           |ON t.rowKey = s.rowKey
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // the FULL three-branch MERGE matrix (r13): one statement that
      // updates half the zz rows (matched, even ts), deletes the other
      // half (matched fall-through), and inserts 50 fresh yy keys — all
      // one atomic group swap, replayed declaratively by the oracle.
      spark.range(150).selectExpr(
          "CASE WHEN id < 100 THEN concat('zz', lpad(CAST(id AS STRING), 4, '0')) " +
            "ELSE concat('yy', lpad(CAST(id - 100 AS STRING), 4, '0')) END AS rowKey",
          "'c' AS family", "'CX' AS qualifier",
          "encode(concat('m', CAST(id AS STRING)), 'UTF-8') AS value",
          "CAST(2000000 + id AS BIGINT) AS ts")
        .createOrReplaceTempView("graft_crud_merge2_src")
      spark.sql(
        s"""MERGE INTO $name.corpus.cells t
           |USING graft_crud_merge2_src s
           |ON t.rowKey = s.rowKey AND t.qualifier = s.qualifier
           |WHEN MATCHED AND s.ts % 2 = 0 THEN UPDATE SET value = s.value, ts = s.ts
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin): Unit
    }
    spark.sql(
      s"""SELECT rowKey, qualifier, CAST(value AS STRING) AS value, ts
         |FROM $cat.corpus.cells""".stripMargin)
  }

  private[graft] val kvSqlCrudSql: String =
    s"""WITH g AS (${genCellsSql(GenRecords, GenTasks, "run1")})
       |SELECT rowKey, qualifier,
       |  CASE WHEN qualifier = 'C5' THEN 'PATCHED' ELSE value END AS value,
       |  ts
       |FROM g WHERE ts % 10 <> 9
       |UNION ALL
       |SELECT concat('zz', lpad(CAST(i AS VARCHAR), 4, '0')),
       |  'CX', concat('m', CAST(i AS VARCHAR)), 2000000 + i
       |FROM range(100) t(i) WHERE i % 2 = 0
       |UNION ALL
       |SELECT concat('yy', lpad(CAST(i - 100 AS VARCHAR), 4, '0')),
       |  'CX', concat('m', CAST(i AS VARCHAR)), 2000000 + i
       |FROM range(100, 150) t(i)""".stripMargin

  /** The r12 verdict's top composition gap, closed (r13): the natural
    * mutable-table sequence — CTAS, a KEYED marker DELETE (O(deletes)
    * tombstones, never a rewrite), then an UPDATE while those markers are
    * STILL LIVE. The UPDATE runs as a MASKED copy-on-write
    * ([[graft.sources.KvRowLevelOps]]): its scan is the logical view (a
    * masked put can never be matched or copied), and any retired
    * marker-carrying group re-enters as one compacted sidecar inside the
    * same atomic entry. The oracle replays all three statements
    * declaratively over the regenerated cells.
    */
  def kvCrudMasked(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCatalog("crud_masked", "graftcrm_", spark, sfDir) { (name, _) =>
      KvGenerator.cells(spark, GenRecords, GenTasks, "run1")
        .createOrReplaceTempView("graft_crm_cells_src")
      spark.sql(
        s"""CREATE TABLE $name.corpus.cells USING `graft-kv`
           |TBLPROPERTIES ('regions' = '4')
           |AS SELECT * FROM graft_crm_cells_src""".stripMargin)
      val victims = spark.sql(
        s"SELECT DISTINCT rowKey FROM $name.corpus.cells ORDER BY rowKey LIMIT 5")
        .collect().map(_.getString(0))
      spark.sql(s"DELETE FROM $name.corpus.cells WHERE rowKey IN " +
        victims.map(k => s"'$k'").mkString("(", ", ", ")"))
      spark.sql(
        s"""UPDATE $name.corpus.cells
           |SET value = CAST('PATCHED' AS BINARY) WHERE qualifier = 'C5'""".stripMargin)
      // ranged erasure (r13): still markers — the range enumerates its
      // live keys with a pruned masked scan, O(deletes) commit
      spark.sql(s"DELETE FROM $name.corpus.cells " +
        "WHERE rowKey >= '30000' AND rowKey < '31000'"): Unit
    }
    spark.sql(
      s"""SELECT rowKey, qualifier, CAST(value AS STRING) AS value, ts
         |FROM $cat.corpus.cells""".stripMargin)
  }

  private[graft] val kvCrudMaskedSql: String =
    s"""WITH g AS (${genCellsSql(GenRecords, GenTasks, "run1")})
       |SELECT rowKey, qualifier,
       |  CASE WHEN qualifier = 'C5' THEN 'PATCHED' ELSE value END AS value,
       |  ts
       |FROM g
       |WHERE rowKey NOT IN
       |  (SELECT DISTINCT rowKey FROM g ORDER BY rowKey LIMIT 5)
       |  AND NOT (rowKey >= '30000' AND rowKey < '31000')""".stripMargin

  /** r13: the SQL LIFECYCLE surface ([[graft.sources.KvProcedures]] —
    * DSv2 stored procedures, Spark 4's `CALL`) under the oracle gate.
    * The operator sequence a risky migration actually runs: CTAS →
    * `CALL snapshot` (pin) → marker DELETE → `CALL compact` (purges the
    * markers — the `CALL fsck` health row proves it) → `CALL vacuum`
    * grace 0 (reclaims the retired segments but NOT the snapshot-pinned
    * originals) → `CALL restore` (back to the pinned state). The final
    * read must be byte-identical to the original CTAS content: restore
    * fidelity across a full compact+vacuum cycle, which only holds if
    * vacuum's snapshot pinning and restore's missing-file checks are both
    * right. Oracle: the plain generator replay — the lifecycle must be a
    * net no-op on content.
    */
  def kvLifecycleSql(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCatalog("lifecycle", "graftlcp_", spark, sfDir) { (name, _) =>
      KvGenerator.cells(spark, GenRecords, GenTasks, "run1")
        .createOrReplaceTempView("graft_lcp_cells_src")
      spark.sql(
        s"""CREATE TABLE $name.corpus.cells USING `graft-kv`
           |TBLPROPERTIES ('regions' = '4')
           |AS SELECT * FROM graft_lcp_cells_src""".stripMargin)
      spark.sql(s"CALL $name.sys.snapshot(table => 'corpus.cells', " +
        "name => 'pre')").collect()
      spark.sql(s"DELETE FROM $name.corpus.cells WHERE rowKey < '20000'")
      spark.sql(s"CALL $name.sys.compact(table => 'corpus.cells')").collect()
      val h = spark.sql(s"CALL $name.sys.fsck(table => 'corpus.cells')")
        .collect().head
      require(h.getBoolean(0) && h.getAs[Long]("live_tombstones") == 0L,
        s"kv_lifecycle_sql: post-compaction fsck must be healthy and " +
          s"marker-free, got $h")
      spark.sql(s"CALL $name.sys.vacuum(table => 'corpus.cells', " +
        "grace_ms => 0)").collect()
      spark.sql(s"CALL $name.sys.restore(table => 'corpus.cells', " +
        "name => 'pre')").collect(): Unit
    }
    spark.sql(
      s"""SELECT rowKey, qualifier, CAST(value AS STRING) AS value, ts
         |FROM $cat.corpus.cells""".stripMargin)
  }

  private[graft] val kvLifecycleSqlSql: String =
    s"""SELECT rowKey, qualifier, value, ts
       |FROM (${genCellsSql(GenRecords, GenTasks, "run1")})""".stripMargin

  /** One oracle serves both delete queries: the survivor set is a pure
    * predicate over events, whatever the engine's masking mechanism.
    */
  private[graft] val kvDeleteMaskSql: String =
    """SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
      |  event_type AS qualifier,
      |  CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) AS value,
      |  event_id AS ts
      |FROM events
      |WHERE user_id % 10 <> 3
      |  AND NOT (user_id % 10 = 4 AND event_type = 'view')
      |  AND NOT (user_id % 10 = 5 AND event_id <=
      |    (SELECT CAST(floor(max(event_id) / 2.0) AS BIGINT) FROM events))""".stripMargin

  /** CDC snapshot diff (ext of the export family): an older generator run
    * (1000 ids) vs a newer state where qualifier C3 was dropped (deletes),
    * 200 new ids appeared (inserts), and every C0 cell was rewritten
    * (updates). [[graft.ops.SnapshotDiff]] emits exactly the changed cells —
    * what an incremental exporter ships instead of a full rescan.
    *
    * r16: both generations are KV TABLES read through the path catalog
    * ([[graft.ops.SnapshotDiff.diffTables]]) — certified same-layout
    * sides (a table and its clone, an unchanged snapshot) now diff with
    * ZERO exchanges (KvDiffSpjSpec pins it); these two diverged
    * generations keep the honest two-shuffle plan.
    */
  def kvSnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val srcA = artifacts.computeIfAbsent(s"snapdiff|$sfDir", _ => {
      val a = artifactPath("snapdiff_older", sfDir)
      val b = artifactPath("snapdiff_newer", sfDir)
      Seq(a, b).foreach(graft.sinks.Sinks.deleteRecursive(spark, _))
      KvGenerator.cells(spark, GenRecords, GenTasks, "run1")
        .write.format("graft-kv").option("regions", 4)
        .mode("overwrite").save(a)
      KvGenerator.cells(spark, GenRecords + 200, GenTasks, "run1")
        .filter(col("qualifier") =!= "C3")
        .withColumn("value",
          when(col("qualifier") === "C0",
            concat(col("value"), lit(":v2".getBytes("UTF-8"))))
            .otherwise(col("value")))
        .write.format("graft-kv").option("regions", 4)
        .mode("overwrite").save(b)
      a
    })
    val srcB = srcA.replace("snapdiff_older", "snapdiff_newer")
    graft.ops.SnapshotDiff.diffTables(spark, srcA, srcB)
      .select(col("rowKey"), col("qualifier"), col("change"),
        decode(col("old_value"), "UTF-8").as("old_value"),
        decode(col("new_value"), "UTF-8").as("new_value"))
  }

  private[graft] val kvSnapshotDiffSql: String =
    s"""WITH older AS (${genCellsSql(GenRecords, GenTasks, "run1")}),
       |newer AS (
       |  SELECT rowKey, qualifier,
       |    CASE WHEN qualifier = 'C0' THEN value || ':v2' ELSE value END AS value
       |  FROM (${genCellsSql(GenRecords + 200, GenTasks, "run1")})
       |  WHERE qualifier <> 'C3')
       |SELECT coalesce(o.rowKey, n.rowKey) AS rowKey,
       |  coalesce(o.qualifier, n.qualifier) AS qualifier,
       |  CASE WHEN o.value IS NULL THEN 'insert'
       |       WHEN n.value IS NULL THEN 'delete'
       |       ELSE 'update' END AS change,
       |  o.value AS old_value, n.value AS new_value
       |FROM older o FULL OUTER JOIN newer n
       |  ON o.rowKey = n.rowKey AND o.qualifier = n.qualifier
       |WHERE o.value IS NULL OR n.value IS NULL OR o.value <> n.value""".stripMargin

  private[graft] val kvTtlExpireSql: String = {
    val now = GenRecords * 10 - 1
    s"""SELECT rowKey, qualifier, value, ts
       |FROM (${genCellsSql(GenRecords, GenTasks, "run1")}) g
       |WHERE ts > $now - ${now / 2}""".stripMargin
  }

  private[graft] val kvVersionsRetainSql: String =
    s"""SELECT rowKey, qualifier,
       |  row_number() OVER (PARTITION BY rowKey, qualifier
       |    ORDER BY ts DESC, value)::BIGINT AS version,
       |  value, ts
       |FROM (${genCellsSql(VersionRecords, GenTasks, "run1")}) g
       |WHERE qualifier = 'C0'
       |QUALIFY version <= 2""".stripMargin

  private[graft] def kvPivotPresortedSql: String = {
    val aggs = PresortedCols.map { c =>
      s"max_by(value, ts) FILTER (WHERE qualifier = '$c') AS $c"
    }.mkString(", ")
    s"SELECT rowKey, $aggs FROM (${genCellsSql(PresortedRecords, GenTasks, "run1")}) GROUP BY rowKey"
  }

  /** K5 completed as a CATALOG table: generated cells persisted as a
    * bucketed+sorted table ([[RangeLayout.persistBucketed]]), read back
    * bucket-per-partition, and pivoted with the shuffle-free streaming
    * group — zero exchanges between the catalog read and the pivot output
    * (PlanSpec asserts it). Same oracle as the in-memory presorted pivot.
    *
    * The table BUILD is a setup step ([[ensureBucketedCells]], memoized per
    * JVM; Bench pre-builds it untimed) — the query itself is read-only, as
    * a bulk-load consumer would be.
    */
  def kvPivotBucketed(spark: SparkSession, sfDir: String): DataFrame =
    decodedPresortedPivot(
      RangeLayout.readBucketed(spark, ensureBucketedCells(spark)))

  // ------------------------------------------------- persisted artifacts
  //
  // Index/catalog-table builds are SETUP, not query work: each is memoized
  // per JVM (ConcurrentHashMap.computeIfAbsent) so the owning query stays
  // self-contained for a one-shot Verify run, while Bench pre-builds them
  // via [[prepare]] and times only the read path.
  private[graft] val artifacts = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Injective per-sfDir artifact path: readable slug + raw-hash suffix, so
    * two dirs that sanitize to the same slug still get distinct paths and
    * one never overwrites the other's artifact. (Catalog TABLE names need
    * the stricter no-dots slug — see ensureBucketedTrade.)
    */
  private[graft] def artifactPath(prefix: String, sfDir: String): String = {
    val slug = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    tmpOut(s"${prefix}_${slug}_${Integer.toHexString(sfDir.hashCode)}")
  }

  /** The ONE catalog bootstrap every SQL-surface staging shares (memoized
    * per `key`+sfDir): unique catalog name, fresh warehouse, session conf
    * registration, `corpus` namespace — then `stage(name, warehouse)` runs
    * once inside it. Returns the catalog name.
    */
  private[graft] def ensureCatalog(key: String, namePrefix: String,
      spark: SparkSession, sfDir: String)(
      stage: (String, String) => Unit): String =
    artifacts.computeIfAbsent(s"$key|$sfDir", _ => {
      val name = namePrefix + Integer.toHexString(sfDir.hashCode)
      val wh = artifactPath(s"kv_${key}_wh", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, wh)
      spark.conf.set(s"spark.sql.catalog.$name",
        classOf[graft.sources.GraftKvCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.corpus")
      stage(name, wh)
      name
    })

  /** The K5 bucketed+sorted catalog table of generated cells (built once). */
  private[graft] def ensureBucketedCells(spark: SparkSession): String =
    artifacts.computeIfAbsent("bucketed_cells", _ => {
      val cells = KvGenerator.cells(spark, PresortedRecords, GenTasks, "run1")
      RangeLayout.persistBucketed(cells, "graft_cells_bucketed", buckets = 8,
        path = tmpOut("bucketed_cells"))
      "graft_cells_bucketed"
    })

  /** The on-disk IVF index of `sfDir`'s embeddings (built once per sfDir —
    * the path carries the sfDir so two scale factors in one JVM never read
    * each other's index).
    */
  private[graft] def ensureIvfIndex(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"ivf_index|$sfDir", _ => {
      val path = artifactPath("ivf_index", sfDir)
      Similarity.persistIvfIndex(embeds(spark, sfDir), path)
      path
    })

  /** The INCREMENTALLY-built IVF index of `sfDir`'s embeddings: 9/10 of the
    * corpus persisted as the base index, the `vec_id % 10 == 9` tail
    * appended as an incoming batch through [[Similarity.appendIvfIndex]]
    * (frozen quantizer, drift-gated, no rebuild). Queries over this layout
    * must be indistinguishable from a full rebuild — ann_topk_ivf_incremental
    * pins that against the full-corpus IVF oracle.
    */
  private[graft] def ensureIvfIncrIndex(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"ivf_incr|$sfDir", _ => {
      val path = artifactPath("ivf_incr", sfDir)
      val e = embeds(spark, sfDir)
      Similarity.persistIvfIndex(e.filter(col("vec_id") % 10 =!= 9), path)
      Similarity.appendIvfIndex(spark, path, e.filter(col("vec_id") % 10 === 9))
      path
    })

  /** Session gap shared by the sessionization queries and their staging. */
  private[graft] val SessionGapNanos = 3600L * 1000000000L

  /** The windowed pivot's window duration — MUST match windowedPivot's
    * "1 hour" default: the late-pivot staging horizon derives from it (the
    * punctuation waves must land past every window's emission horizon).
    * Deliberately its own constant: retuning the session gap must not move
    * the pivot staging.
    */
  private[graft] val PivotWindowNanos = 3600L * 1000000000L

  private[graft] def sessionEventsOf(spark: SparkSession, sfDir: String): DataFrame =
    KvTable.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("tsNanos"))

  /** Staged replay directories for the three multi-batch streaming queries:
    * writing the chunked + punctuated replay files is SETUP (the artifact),
    * replaying them through the stateful operators is the query. Memoized
    * per sfDir like the other artifacts.
    */
  private[graft] def ensureSessionDir(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"sess_dir|$sfDir", _ =>
      StreamingPivot.stageSessionFiles(
        sessionEventsOf(spark, sfDir), nChunks = 4, gapNanos = SessionGapNanos))

  /** Memoize a (path, long) artifact through the String-valued map: NUL
    * joins the pair (it cannot occur in a filesystem path).
    */
  private[graft] def pairArtifact(key: String)(build: => (String, Long)): (String, Long) = {
    val v = artifacts.computeIfAbsent(key, _ => {
      val (d, l) = build
      d + "\u0000" + l
    })
    val i = v.lastIndexOf('\u0000')
    (v.substring(0, i), v.substring(i + 1).toLong)
  }

  private[graft] def ensureSessionLateDir(spark: SparkSession, sfDir: String): (String, Long) =
    pairArtifact(s"sess_late_dir|$sfDir") {
      StreamingPivot.stageSessionFilesShuffled(
        sessionEventsOf(spark, sfDir), nChunks = 4, gapNanos = SessionGapNanos)
    }

  private[graft] def ensurePivotLateDir(spark: SparkSession, sfDir: String): (String, Long) =
    pairArtifact(s"pivot_late_dir|$sfDir") {
      val raw = KvTable.eventsRaw(spark, s"$sfDir/events.parquet")
      StreamingPivot.stageEventsShuffled(
        raw, nChunks = 4, horizonNanos = PivotWindowNanos)
    }

  /** Build every persisted artifact the query suite reads (idempotent).
    * Bench calls this in its untimed setup so artifact construction never
    * pollutes query timings; a cold Verify run instead builds lazily on
    * first use.
    */
  def prepare(spark: SparkSession, sfDir: String): Unit = {
    ensureBucketedCells(spark)
    ensureIvfIndex(spark, sfDir)
    ensureIvfIncrIndex(spark, sfDir)
    ensureSessionDir(spark, sfDir)
    ensureSessionLateDir(spark, sfDir)
    ensurePivotLateDir(spark, sfDir)
    ensureJoinDir(spark, sfDir)
    ensurePartitionedEvents(spark, sfDir)
    ensureRegionCells(spark, sfDir)
    ensureClickIndex(spark, sfDir)
    ensureBucketedTrade(spark, sfDir)
    ensureMaterializedAgg(spark, sfDir)
    ensureZorderedEvents(spark, sfDir)
    ensureWalSegments(spark, sfDir)
    ensureCompactedCells(spark, sfDir)
    ensureVersionedCells(spark, sfDir): Unit
    ensureVacuumedCells(spark, sfDir): Unit
    ensureMaintainedCells(spark, sfDir): Unit
    ensureDeletedCells(spark, sfDir): Unit
    ensureCatalogTable(spark, sfDir): Unit
    ensureSaltedPresortedKv(spark, sfDir): Unit
    kvSqlCrud(spark, sfDir): Unit // staging memoized; the query is a read
    kvCrudMasked(spark, sfDir): Unit
    kvTailResume(spark, sfDir): Unit
    kvCloneScan(spark, sfDir): Unit
  }

  // ---------------------------------------------------------------- D1 / O1

  private[graft] val RegionCount = 8

  /** D1: the reference's pre-split region scheme as a deterministic region-id
    * assignment over generated keys — count of cells per region.
    */
  def kvRegionHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvGenerator.cells(spark, GenRecords, GenTasks, "run1")
    cells
      .select(RangeLayout.regionOf(substring(col("rowKey"), 1, 5), RegionCount).as("region"))
      .groupBy(col("region")).agg(count(lit(1)).as("n_cells"))
  }

  private[graft] val kvRegionHistogramSql: String = {
    val regionRange = Short.MaxValue / RegionCount
    s"""SELECT CAST(LEAST(floor(CAST(keyRoot AS BIGINT) / $regionRange), ${RegionCount - 1}) AS INTEGER) AS region,
       |       count(*) AS n_cells
       |FROM (
       |  SELECT lpad(CAST(((t.id + 1) * ${KvGenerator.KeyMixer}) % ${KvGenerator.KeySpace} AS VARCHAR), 5, '0') AS keyRoot
       |  FROM range(0, $GenRecords) t(id), range(0, 10) c(i))
       |GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- F2 / typed

  /** F2 codec round-trip: encode lineitem columns to big-endian binary with
    * the custom Catalyst expressions, decode back — must be the identity.
    */
  def kvTypedDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.ByteCodecs._
    KvTable.table(spark, sfDir, "lineitem").select(
      col("l_orderkey"),
      col("l_linenumber"),
      binaryToLong(longToBinary(col("l_partkey"))).as("pk"),
      binaryToInt(intToBinary(col("l_linenumber"))).as("ln"))
  }

  private[graft] val kvTypedDecodeSql: String =
    "SELECT l_orderkey, l_linenumber, l_partkey AS pk, l_linenumber AS ln FROM lineitem"

  /** The Avro/Parquet export end-to-end (§3.1 restatement): typed cell scan →
    * A1 pivot → Avro-dialect schema projection with typed decode (F2) and
    * rowKey injection (P4).
    */
  def kvTypedExport(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = SchemaFile.parseAvroJson(
      """{"type":"record","name":"Line","fields":[
        |  {"name":"qty","type":"long"},{"name":"ln","type":"int"},
        |  {"name":"flag","type":"string"},{"name":"KEY","type":"string"}]}""".stripMargin)
    val cells = KvTable.lineitemAsCells(spark, sfDir)
    val piv = KvPivot.pivot(cells, schema.fieldNames.toSeq,
      rowKeyCol = Some("KEY"), family = Some("c"))
    TypedProject.project(piv, schema)
  }

  /** Duplicate key 4-tuples in the synthetic lineitem are duplicate *writes*
    * to one KV row; cell ts is monotonic in cell value (KvTable), so LWW ==
    * per-column max — hence the GROUP BY.
    */
  private[graft] val kvTypedExportSql: String =
    """SELECT CAST(max(floor(l_quantity)) AS BIGINT) AS qty,
      |  max(l_linenumber) AS ln, max(l_returnflag) AS flag, KEY
      |FROM (
      |  SELECT l_quantity, l_linenumber, l_returnflag,
      |    concat(lpad(CAST(l_orderkey AS VARCHAR), 10, '0'), '|',
      |           lpad(CAST(l_linenumber AS VARCHAR), 2, '0'), '|',
      |           lpad(CAST(l_partkey AS VARCHAR), 8, '0'), '|',
      |           lpad(CAST(l_suppkey AS VARCHAR), 6, '0')) AS KEY
      |  FROM lineitem)
      |GROUP BY KEY""".stripMargin

  /** The inverse of A1 — row→cells via Spark's native `unpivot` (melt): the
    * load-path operator that turns a columnar table into a KV cell stream
    * (what PopulateTable's 10-cell fan-out does, G1, restated on real data).
    * Narrow (no shuffle): 3 cells per lineitem row.
    */
  def kvUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val li = KvTable.table(spark, sfDir, "lineitem")
    li.select(
        KvTable.lineitemKey.as("KEY"),
        floor(col("l_quantity")).cast("long").cast("string").as("qty"),
        col("l_linenumber").cast("string").as("ln"),
        col("l_returnflag").as("flag"))
      .unpivot(Array(col("KEY")), Array(col("qty"), col("ln"), col("flag")),
        "qualifier", "value")
  }

  private[graft] val kvUnpivotSql: String =
    """WITH r AS (
      |  SELECT concat(lpad(CAST(l_orderkey AS VARCHAR), 10, '0'), '|',
      |           lpad(CAST(l_linenumber AS VARCHAR), 2, '0'), '|',
      |           lpad(CAST(l_partkey AS VARCHAR), 8, '0'), '|',
      |           lpad(CAST(l_suppkey AS VARCHAR), 6, '0')) AS KEY,
      |    CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR) AS qty,
      |    CAST(l_linenumber AS VARCHAR) AS ln, l_returnflag AS flag
      |  FROM lineitem)
      |SELECT KEY, 'qty' AS qualifier, qty AS value FROM r
      |UNION ALL SELECT KEY, 'ln' AS qualifier, ln AS value FROM r
      |UNION ALL SELECT KEY, 'flag' AS qualifier, flag AS value FROM r""".stripMargin

  /** HBase `Append` analog (`Table.append` — the in-place cell concat op):
    * per cell coordinate, all written values joined in WRITE ORDER. The
    * write order is recovered deterministically (sort by the unique cell
    * ts = event_id inside the aggregated array — `array_sort` on (ts,
    * value) structs), so the result is partitioning-independent; state per
    * cell is bounded by versions-per-cell, the op's inherent cost.
    */
  def kvAppendCells(spark: SparkSession, sfDir: String): DataFrame =
    KvTable.eventsAsCells(spark, sfDir)
      .groupBy(col("rowKey"), col("qualifier"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("ts"), col("value")))),
            x => decode(x.getField("value"), "UTF-8")), ",").as("appended"),
        count(lit(1)).as("n_writes"))

  private[graft] val kvAppendCellsSql: String =
    """SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
      |  event_type AS qualifier,
      |  string_agg(CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR),
      |             ',' ORDER BY event_id) AS appended,
      |  count(*) AS n_writes
      |FROM events GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------ compaction

  /** A table in the state compaction exists to fix: the events cells landed
    * as SEVERAL small batch commits (the memstore-flush pile-up of a
    * long-lived table — each commit seals its own region-file set), then
    * major-compacted through [[graft.sources.KvCompactor]]: one engine-owned
    * merge pass rewrites the live set as 4 range-sorted region files and
    * publishes a single manifest `compact` entry (adds = the merged set,
    * removes = every pile-up segment, horizon advanced).
    */
  private[graft] def ensureCompactedCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"compacted_cells|$sfDir", _ => {
      val path = artifactPath("compacted_cells", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      val cells = KvTable.eventsAsCells(spark, sfDir)
      (0 until 3).foreach { i =>
        cells.filter(pmod(col("ts"), lit(3)) === i)
          .write.format("graft-kv").option("regions", 4)
          .mode("append").save(path)
      }
      val res = graft.sources.KvCompactor.compact(spark, path, regions = 4)
      require(res.isInstanceOf[graft.sources.KvCompactor.Compacted],
        s"kv_compacted_scan staging expected a compaction, got $res")
      path
    })

  /** A 3-commit pile-up left UNCOMPACTED: each manifest entry is a durable
    * table version for [[kvTimetravelScan]] to read back.
    */
  private[graft] def ensureVersionedCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"versioned_cells|$sfDir", _ => {
      val path = artifactPath("versioned_cells", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      val cells = KvTable.eventsAsCells(spark, sfDir)
      (0 until 3).foreach { i =>
        cells.filter(pmod(col("ts"), lit(3)) === i)
          .write.format("graft-kv").option("regions", 4)
          .mode("append").save(path)
      }
      path
    })

  /** A pile-up pushed through the POLICY pass ([[graft.sources.KvMaintenance]])
    * rather than a manual compact: 6 commits exceed the maxSegments
    * threshold, so maintenance compacts (output regions sized from live
    * bytes) and vacuums in one sweep. The staged table must behave exactly
    * like a manually compacted one — the policy only decides WHEN.
    */
  private[graft] def ensureMaintainedCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"maintained_cells|$sfDir", _ => {
      val path = artifactPath("maintained_cells", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      val cells = KvTable.eventsAsCells(spark, sfDir)
      (0 until 6).foreach { i =>
        cells.filter(pmod(col("ts"), lit(6)) === i)
          .write.format("graft-kv").option("regions", 2)
          .mode("append").save(path)
      }
      val res = graft.sources.KvMaintenance.maintain(spark, path,
        graft.sources.KvMaintenance.Policy(maxSegments = 8))
      require(res.compaction.isInstanceOf[graft.sources.KvCompactor.Compacted],
        s"kv_maintained_scan staging expected the policy to compact, got $res")
      path
    })

  /** The maintenance policy end-to-end, gated by the events-pivot oracle:
    * a 12-segment pile-up crosses the threshold, the policy pass compacts
    * + vacuums, and the scan of the maintained table must still equal the
    * full pivot — housekeeping reclaims layout debt, never visible data.
    */
  def kvMaintainedScan(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = spark.read.format("graft-kv")
      .load(ensureMaintainedCells(spark, sfDir))
    val piv = KvPivot.pivot(cells, EventCols, family = Some("f"))
    piv.select(col("rowKey") +: EventCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  /** A table carrying crash leftovers, then vacuumed: a stray unpublished
    * compaction output and a dead scratch dir are planted (aged past the
    * grace period), and [[graft.sources.KvVacuum]] must reclaim BOTH while
    * leaving every manifest-referenced file in place.
    */
  private[graft] def ensureVacuumedCells(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"vacuumed_cells|$sfDir", _ => {
      val path = artifactPath("vacuumed_cells", sfDir)
      graft.sinks.Sinks.deleteRecursive(spark, path)
      val cells = KvTable.eventsAsCells(spark, sfDir)
      (0 until 2).foreach { i =>
        cells.filter(pmod(col("ts"), lit(2)) === i)
          .write.format("graft-kv").option("regions", 4)
          .mode("append").save(path)
      }
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val live = graft.sources.KvLog.liveFiles(fs, dir)
      val stray = new org.apache.hadoop.fs.Path(dir, "part-c0000000009-00000.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(dir, live.head), fs, stray, false, fs.getConf)
      fs.setTimes(stray, 1000L, -1)
      val res = graft.sources.KvVacuum.vacuum(spark, path, graceMs = 0)
      require(res match {
        case v: graft.sources.KvVacuum.Vacuumed => v.deletedFiles == 1
        case _ => false
      }, s"kv_vacuumed_scan staging expected 1 reclaimed stray, got $res")
      path
    })

  /** VACUUM end-to-end, gated by the events-pivot oracle: after GC of the
    * planted crash leftovers, the scan of the vacuumed table must still
    * equal the full pivot — vacuum reclaims bytes, never visible data. (The
    * stray file duplicates live cells, so a scan that ever read it would
    * hash-mismatch on doubled rows; a vacuum that deleted a LIVE file would
    * mismatch on missing ones.)
    */
  def kvVacuumedScan(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = spark.read.format("graft-kv")
      .load(ensureVacuumedCells(spark, sfDir))
    val piv = KvPivot.pivot(cells, EventCols, family = Some("f"))
    piv.select(col("rowKey") +: EventCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  /** TIME TRAVEL through the manifest log (HBase snapshot read / Delta
    * `versionAsOf`): the pivot of the table AS OF log seq 1 — the first two
    * of three batch commits — must equal the pivot of exactly those cells.
    * The oracle filters the source rows the same way the staging partitioned
    * them (`ts % 3 <= 1`), so a scan that read the wrong version set (too
    * many files, too few, or the stray third commit) hash-mismatches.
    */
  def kvTimetravelScan(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = spark.read.format("graft-kv").option("asOfSeq", 1)
      .load(ensureVersionedCells(spark, sfDir))
    val piv = KvPivot.pivot(cells, EventCols, family = Some("f"))
    piv.select(col("rowKey") +: EventCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  private[graft] val kvTimetravelScanSql: String = {
    val aggs = EventCols.map { c =>
      s"max_by(CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR), event_id) " +
        s"FILTER (WHERE event_type = '$c') AS $c"
    }.mkString(", ")
    s"""SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey, $aggs
       |FROM events WHERE event_id % 3 <= 1 GROUP BY 1""".stripMargin
  }

  /** INCREMENTAL (CDC) read through the manifest log (the Delta
    * change-data-feed shape over immutable cells): the cells committed
    * strictly AFTER log seq 0 — the second and third of three staged
    * commits — pivoted. A backfill consumer taking version-bounded
    * increments without a streaming checkpoint must see exactly those
    * commits' cells: a full scan (too many files), a dropped commit, or a
    * compact entry's re-published files would all hash-mismatch. The
    * oracle filters the source rows the same way the staging partitioned
    * them (`event_id % 3 >= 1`).
    */
  def kvChangesScan(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = spark.read.format("graft-kv").option("sinceSeq", 0)
      .load(ensureVersionedCells(spark, sfDir))
    val piv = KvPivot.pivot(cells, EventCols, family = Some("f"))
    piv.select(col("rowKey") +: EventCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  private[graft] val kvChangesScanSql: String = {
    val aggs = EventCols.map { c =>
      s"max_by(CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR), event_id) " +
        s"FILTER (WHERE event_type = '$c') AS $c"
    }.mkString(", ")
    s"""SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey, $aggs
       |FROM events WHERE event_id % 3 >= 1 GROUP BY 1""".stripMargin
  }

  /** Commit history of the versioned staging table (the Delta
    * `DESCRIBE HISTORY` analog over the manifest log,
    * [[graft.sources.KvLog.history]]): seq, entry kind, add/remove counts
    * per commit. The staging is deterministic (3 appends × 4 regions), so
    * the oracle is the literal expected history — a wrong seq order, a
    * miscounted entry, or a phantom commit all hash-mismatch. Metadata
    * only: the query never opens a data file.
    */
  def kvHistory(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = ensureVersionedCells(spark, sfDir)
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.KvLog.history(fs, dir)
      .map { case (seq, kind, _, nAdds, nRemoves) => (seq, kind, nAdds, nRemoves) }
      .toDF("seq", "kind", "n_adds", "n_removes")
  }

  private[graft] val kvHistorySql: String =
    """SELECT * FROM (VALUES
      |  (CAST(0 AS BIGINT), 'append', CAST(4 AS BIGINT), CAST(0 AS BIGINT)),
      |  (CAST(1 AS BIGINT), 'append', CAST(4 AS BIGINT), CAST(0 AS BIGINT)),
      |  (CAST(2 AS BIGINT), 'append', CAST(4 AS BIGINT), CAST(0 AS BIGINT)))
      |  AS t(seq, kind, n_adds, n_removes)""".stripMargin

  /** The versioned three-commit staging as a CATALOG table (adopted by
    * name — the directory contract makes a path-staged table a catalog
    * table by placement), backing the SQL-reachable history/CDC surface:
    * `CALL sys.history` and `spark.read.option("sinceSeq", …).table(…)`.
    */
  private[graft] def ensureVersionedCatalog(spark: SparkSession, sfDir: String): String =
    ensureCatalog("versioned_sql", "graftvsq_", spark, sfDir) { (name, wh) =>
      val cells = KvTable.eventsAsCells(spark, sfDir)
      (0 until 3).foreach { i =>
        cells.filter(pmod(col("ts"), lit(3)) === i)
          .write.format("graft-kv").option("regions", 4)
          .mode("append").save(s"$wh/corpus/cells")
      }
    }

  /** `CALL sys.history` — the manifest commit log BY TABLE NAME (r14):
    * what [[kvHistory]] reads through the path API, now reachable from a
    * pure SQL session ([[graft.sources.KvProcedures]] HistoryProc). The
    * staging is deterministic, so the oracle is the same literal history.
    */
  def kvHistorySqlProc(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureVersionedCatalog(spark, sfDir)
    spark.sql(s"CALL $cat.sys.history(table => 'corpus.cells')")
      .select(col("seq"), col("kind"), col("n_adds"), col("n_removes"))
  }

  /** The CDC span BY TABLE NAME (r14): `option("sinceSeq", …).table(…)`
    * — the same incremental read [[kvChangesScan]] takes through the path
    * API, resolved through the catalog so a SQL session can take
    * version-bounded increments without knowing the table's directory.
    * Same oracle: the span's cells are the staging's last two commits.
    */
  def kvChangesTable(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureVersionedCatalog(spark, sfDir)
    val cells = spark.read.option("sinceSeq", 0).table(s"$cat.corpus.cells")
    val piv = KvPivot.pivot(cells, EventCols, family = Some("f"))
    piv.select(col("rowKey") +: EventCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  /** The compaction cycle end-to-end, gated by the same oracle as
    * `kv_pivot_events`: the LWW pivot of the COMPACTED table must equal the
    * pivot of the original — compaction may merge segments but never change
    * a single visible cell. The scan side is the payoff being verified: the
    * table is read through the manifest's horizon entry (the merged live
    * set only — stray or merged-away files are invisible) and opens 4
    * region files where the pile-up had one set per commit.
    */
  def kvCompactedScan(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = spark.read.format("graft-kv")
      .load(ensureCompactedCells(spark, sfDir))
    val piv = KvPivot.pivot(cells, EventCols, family = Some("f"))
    piv.select(col("rowKey") +: EventCols.map(c => decode(col(c), "UTF-8").as(c)): _*)
  }

  // ------------------------------------------------------- secondary index

  /** HBase-style secondary index, modeled the way HBase users build one
    * (an index TABLE maintained next to the data table — HBase itself has
    * none; cf. the Phoenix/HBase-book pattern): `base` is the pivoted
    * events table persisted sorted by rowKey; `idx` maps the decoded click
    * value → rowKey, persisted range-partitioned and sorted by value so
    * parquet min/max stats skip every file/row-group outside a lookup
    * range. Both are build-once artifacts.
    */
  private[graft] def ensureClickIndex(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"click_idx|$sfDir", _ => {
      val path = artifactPath("click_idx", sfDir)
      val piv = kvPivotEvents(spark, sfDir)
      piv.repartitionByRange(8, col("rowKey")).sortWithinPartitions("rowKey")
        .write.mode("overwrite").parquet(s"$path/base")
      piv.filter(col("click").isNotNull)
        .select(col("click").cast("long").as("clk"), col("rowKey"))
        .repartitionByRange(8, col("clk")).sortWithinPartitions("clk")
        .write.mode("overwrite").parquet(s"$path/idx")
      path
    })

  /** Value-range lookup THROUGH the secondary index: the range predicate
    * runs on the tiny index scan (pushed to parquet — PlanSpec asserts it),
    * the matching rowKeys broadcast into a semi join against the base
    * table. At 100 TB the alternative is re-deriving the pivot and
    * filtering all of it; the index path reads two narrow columns of a
    * value-sorted table, skips non-overlapping row groups entirely, and
    * never shuffles the base.
    */
  def kvIndexLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureClickIndex(spark, sfDir)
    val keys = spark.read.parquet(s"$path/idx")
      .filter(col("clk") >= 9000L && col("clk") < 12000L)
      .select(col("rowKey"))
    spark.read.parquet(s"$path/base")
      .join(broadcast(keys), Seq("rowKey"), "left_semi")
  }

  private[graft] val kvIndexLookupSql: String =
    s"""SELECT * FROM ($kvPivotEventsSql)
       |WHERE CAST(click AS BIGINT) >= 9000 AND CAST(click AS BIGINT) < 12000""".stripMargin

  // ------------------------------------------------------- z-order layout

  /** Events re-laid by the Morton interleave of (user_id, value_x100):
    * range-partitioned and sorted by z-value, so parquet min/max stats
    * cluster BOTH dimensions — a range predicate on either column skips
    * most row groups, where a single-column sort only serves its own
    * column. 32 output files make the file-level stats the pruning unit.
    */
  private[graft] def ensureZorderedEvents(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"zorder_events|$sfDir", _ => {
      val path = artifactPath("zorder_events", sfDir)
      import graft.functions.ZOrderInterleave
      KvTable.events(spark, sfDir)
        .withColumn("value_x100", floor(col("value") * 100).cast("long"))
        .withColumn("zv", ZOrderInterleave.zOrder(col("user_id"), col("value_x100")))
        .repartitionByRange(32, col("zv")).sortWithinPartitions("zv")
        .drop("zv") // the key shaped the layout; no query reads it
        .write.mode("overwrite").parquet(path)
      path
    })

  /** Selective two-axis query over the z-laid table: both predicates are
    * plain pushed parquet filters (no derived z-range math — the LAYOUT
    * does the clustering; the engine's ordinary min/max skipping gets the
    * benefit for free on either axis). Identical answer to filtering the
    * raw table, which is the oracle.
    */
  def kvZorderScan(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(ensureZorderedEvents(spark, sfDir))
      .filter(col("user_id") < 100 && col("value_x100") >= 5000)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_x100")).as("sum_x100"))

  private[graft] val kvZorderScanSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_x100
      |FROM events
      |WHERE user_id < 100 AND CAST(floor(value * 100) AS BIGINT) >= 5000
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------- hive-layout partitioning

  /** The events table re-written in hive partition layout
    * (`event_type=<v>/part-*.parquet`). Directory partitioning is the
    * 100-TB scan reducer the reference gets from HBase key ranges + column
    * families (HBaseUtils.java pre-splits): a predicate on the partition
    * column prunes whole directories at PLANNING time — zero I/O and zero
    * tasks for the pruned values — where a row predicate still lists and
    * opens every file. Built once per sfDir as a persisted artifact.
    */
  private[graft] def ensurePartitionedEvents(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"part_events|$sfDir", _ => {
      val path = artifactPath("part_events", sfDir)
      KvTable.events(spark, sfDir)
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
      path
    })

  /** Partition-pruned aggregate over the hive-layout events: the
    * `event_type` equality resolves against directory names (PlanSpec
    * asserts the scan's PartitionFilters), so the job reads one partition's
    * files instead of row-filtering all of them.
    */
  def kvPartitionedScan(spark: SparkSession, sfDir: String): DataFrame = {
    val part = spark.read.parquet(ensurePartitionedEvents(spark, sfDir))
    part.filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_clicks"),
        sum(floor(col("value") * 100)).cast("long").as("sum_x100"))
  }

  private[graft] val kvPartitionedScanSql: String =
    """SELECT user_id, count(*) AS n_clicks,
      |  CAST(sum(floor(value * 100)) AS BIGINT) AS sum_x100
      |FROM events WHERE event_type = 'click' GROUP BY 1""".stripMargin

  // ------------------------------------------------------------- K1–K4 sinks

  private[graft] def tmpOut(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_export/$name"

  /** The CSV-dialect delimited schema used by the text/seq round-trips. */
  private[graft] val DelimSchema = "click,view,KEY"

  private[graft] def delimitedExportCfg(format: Export.Format, name: String, codec: Option[String]) =
    Export.Config(format, DelimSchema, tmpOut(name), columnFamily = Some("f"),
      delimiter = "|", rowKeyColumn = Some("KEY"), compression = codec)

  private[graft] val delimitedRoundtripSql: String =
    """SELECT concat_ws('|', coalesce(click, ''), coalesce(view, ''), rowKey) AS line
      |FROM (
      |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS rowKey,
      |    max_by(CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR), event_id)
      |      FILTER (WHERE event_type = 'click') AS click,
      |    max_by(CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR), event_id)
      |      FILTER (WHERE event_type = 'view') AS view
      |  FROM events GROUP BY 1)""".stripMargin

  /** K1 e2e: delimited-text export with gzip, read back as lines. */
  def exportTxtRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvTable.eventsAsCells(spark, sfDir)
    val cfg = delimitedExportCfg(Export.DelimitedTxt, "txt", Some("gzip"))
    Export.run(cells, cfg)
    spark.read.text(cfg.outputPath).withColumnRenamed("value", "line")
  }

  /** K2 e2e: SequenceFile export with gzip codec, read back keys as lines. */
  def exportSeqRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvTable.eventsAsCells(spark, sfDir)
    val cfg = delimitedExportCfg(Export.DelimitedSeq, "seq", Some("gzip"))
    graft.sinks.Sinks.deleteRecursive(spark, cfg.outputPath)
    Export.run(cells, cfg)
    graft.sinks.Sinks.readSequenceFile(spark, cfg.outputPath)
  }

  private[graft] val TypedAvroSchema =
    """{"type":"record","name":"Line","fields":[
      |  {"name":"qty","type":["long","null"]},{"name":"ln","type":["int","null"]},
      |  {"name":"flag","type":["string","null"]},{"name":"KEY","type":["string","null"]}]}""".stripMargin

  /** K3 e2e: Avro container export (snappy), distributed read-back. */
  def exportAvroRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvTable.lineitemAsCells(spark, sfDir)
    val cfg = Export.Config(Export.Avro, TypedAvroSchema, tmpOut("avro"),
      columnFamily = Some("c"), rowKeyColumn = Some("KEY"), compression = Some("snappy"))
    graft.sinks.Sinks.deleteRecursive(spark, cfg.outputPath)
    Export.run(cells, cfg)
    graft.sinks.AvroIO.read(spark, cfg.outputPath, SchemaFile.parseAvroJson(TypedAvroSchema))
  }

  /** K4 e2e: Parquet export (snappy), read-back. Output dir is wiped first —
    * `mode("overwrite")` alone leaves stale part-files from a previous schema
    * visible to the read-back listing.
    */
  def exportParquetRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvTable.lineitemAsCells(spark, sfDir)
    val cfg = Export.Config(Export.Parquet, TypedAvroSchema, tmpOut("parquet"),
      columnFamily = Some("c"), rowKeyColumn = Some("KEY"), compression = Some("snappy"))
    graft.sinks.Sinks.deleteRecursive(spark, cfg.outputPath)
    Export.run(cells, cfg)
    Export.readParquet(spark, cfg.outputPath)
  }

  /** Ext sink: ORC export (zlib), read-back — same pivot plan as K4, a
    * fifth format a reference user migrating formats would reach for.
    * DuckDB never reads ORC: the oracle checks the round-tripped ROWS
    * against the same relational truth as the parquet path.
    */
  def exportOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvTable.lineitemAsCells(spark, sfDir)
    val cfg = Export.Config(Export.Orc, TypedAvroSchema, tmpOut("orc"),
      columnFamily = Some("c"), rowKeyColumn = Some("KEY"), compression = Some("zlib"))
    graft.sinks.Sinks.deleteRecursive(spark, cfg.outputPath)
    Export.run(cells, cfg)
    Export.readOrc(spark, cfg.outputPath)
  }

  /** Ext sink: JSON-lines export (gzip), read back under the SAME Avro-JSON
    * schema so types survive the text round-trip (no inference).
    */
  def exportJsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvTable.lineitemAsCells(spark, sfDir)
    val cfg = Export.Config(Export.JsonLines, TypedAvroSchema, tmpOut("jsonl"),
      columnFamily = Some("c"), rowKeyColumn = Some("KEY"), compression = Some("gzip"))
    graft.sinks.Sinks.deleteRecursive(spark, cfg.outputPath)
    Export.run(cells, cfg)
    Export.readJsonLines(spark, cfg.outputPath, TypedAvroSchema)
  }

  /** Union-typed Avro schema for the reader-gate queries (events pivot,
    * string cells — the delimited dialect's column set as a record).
    */
  private[graft] val ReaderAvroSchema =
    """{"type":"record","name":"Ev","fields":[
      |  {"name":"click","type":["string","null"]},
      |  {"name":"view","type":["string","null"]},
      |  {"name":"KEY","type":["string","null"]}]}""".stripMargin

  private[graft] val readerLimitSql: String =
    """SELECT click, view, KEY FROM (
      |  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS KEY,
      |    max_by(CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR), event_id)
      |      FILTER (WHERE event_type = 'click') AS click,
      |    max_by(CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR), event_id)
      |      FILTER (WHERE event_type = 'view') AS view
      |  FROM events GROUP BY 1)
      |ORDER BY KEY LIMIT 20""".stripMargin

  /** O2+K6 oracle gate, Avro flavor: the AvroReader inspection path
    * (distributed Avro read + read limit — Cli.scala's `AvroReader` runs
    * exactly this `AvroIO.read(...).limit(n)` plan into a console sink).
    * An ORDER BY makes the LIMIT replayable by the oracle; the subcommand
    * itself is the unordered `show(n)` flavor of the same plan. The limit
    * collapses to a `CollectLimit` over a sorted scan — at 100 TB an
    * inspection read touches only the first file splits, never the corpus.
    */
  def readerAvroLimit(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvTable.eventsAsCells(spark, sfDir)
    val cfg = Export.Config(Export.Avro, ReaderAvroSchema, tmpOut("reader_avro"),
      columnFamily = Some("f"), rowKeyColumn = Some("KEY"), compression = Some("snappy"))
    graft.sinks.Sinks.deleteRecursive(spark, cfg.outputPath)
    Export.run(cells, cfg)
    graft.sinks.AvroIO.read(spark, cfg.outputPath, SchemaFile.parseAvroJson(ReaderAvroSchema))
      .orderBy(col("KEY")).limit(20)
  }

  /** O2+K6 oracle gate, Parquet flavor: the ParquetReader path
    * (`spark.read.parquet(...).limit(n)`, Cli.scala `ParquetReader`) made
    * deterministic the same way.
    */
  def readerParquetLimit(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = KvTable.eventsAsCells(spark, sfDir)
    val cfg = Export.Config(Export.Parquet, ReaderAvroSchema, tmpOut("reader_parquet"),
      columnFamily = Some("f"), rowKeyColumn = Some("KEY"), compression = Some("snappy"))
    graft.sinks.Sinks.deleteRecursive(spark, cfg.outputPath)
    Export.run(cells, cfg)
    Export.readParquet(spark, cfg.outputPath).orderBy(col("KEY")).limit(20)
  }

  /** The materialized per-customer order aggregate over "yesterday's"
    * orders (o_orderkey % 10 != 9), persisted once — the base a delta batch
    * maintains incrementally.
    */
  private[graft] def ensureMaterializedAgg(spark: SparkSession, sfDir: String): String =
    artifacts.computeIfAbsent(s"mat_agg|$sfDir", _ => {
      val path = artifactPath("mat_agg", sfDir)
      KvTable.table(spark, sfDir, "orders")
        .filter(col("o_orderkey") % 10 =!= 9)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice"))).cast("long").as("sum_price"))
        .write.mode("overwrite").parquet(path)
      path
    })

  /** Incremental view maintenance: merge TODAY's delta (o_orderkey % 10 ==
    * 9, ~10% of rows) into the persisted aggregate — aggregate ONLY the
    * delta, then a full-outer count/sum merge with the materialized base.
    * At 100 TB this is the difference between shuffling a day's increment
    * and re-shuffling the whole history every refresh; the oracle is the
    * full recompute over all orders, which the merged result must equal
    * exactly (count and integer-sum are self-mergeable aggregates — the
    * property that makes a view maintainable this way at all).
    */
  def relIncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val base = spark.read.parquet(ensureMaterializedAgg(spark, sfDir))
      .withColumnRenamed("n_orders", "b_n").withColumnRenamed("sum_price", "b_s")
    val delta = KvTable.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 10 === 9)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("d_n"),
        sum(floor(col("o_totalprice"))).cast("long").as("d_s"))
    base.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_orders"),
        (coalesce(col("b_s"), lit(0L)) + coalesce(col("d_s"), lit(0L))).as("sum_price"))
  }

  private[graft] val relIncrementalAggSql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      |  CAST(sum(floor(o_totalprice)) AS BIGINT) AS sum_price
      |FROM orders GROUP BY 1""".stripMargin

  /** Schema evolution across a table's file history: half the rows written
    * under the v1 schema (no `value_x100`), half under v2 (column added),
    * read back with `mergeSchema` — the lakehouse behavior every
    * long-lived export directory eventually needs. v1 rows surface the new
    * column as NULL; no rewrite of old files. (Parquet merges by NAME, so
    * this is metadata-only at read — pruning/pushdown still work on the
    * merged schema.)
    */
  def exportEvolveRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = tmpOut("evolve_roundtrip")
    graft.sinks.Sinks.deleteRecursive(spark, out)
    val ev = KvTable.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"))
      .write.mode("append").parquet(out)
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 100).cast("long").as("value_x100"))
      .write.mode("append").parquet(out)
    spark.read.option("mergeSchema", "true").parquet(out)
  }

  private[graft] val exportEvolveRoundtripSql: String =
    """SELECT event_id, user_id, CAST(NULL AS BIGINT) AS value_x100
      |FROM events WHERE event_id % 2 = 0
      |UNION ALL
      |SELECT event_id, user_id, CAST(floor(value * 100) AS BIGINT)
      |FROM events WHERE event_id % 2 = 1""".stripMargin

  // ------------------------------------------------------------- catalog

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kv_pivot_events" -> (kvPivotEvents _),
    "kv_v2_range_scan" -> (kvV2RangeScan _),
    "kv_pivot_inject" -> (kvPivotInject _),
    "kv_delimited_lines" -> (kvDelimitedLines _),
    "kv_gen_cells" -> (kvGenCells _),
    "kv_pivot_presorted" -> (kvPivotPresorted _),
    "kv_pivot_auto" -> (kvPivotAuto _),
    "kv_pivot_auto_masked" -> (kvPivotAutoMasked _),
    "kv_pivot_salted" -> (kvPivotSalted _),
    "kv_clone_scan" -> (kvCloneScan _),
    "kv_lifecycle_sql" -> (kvLifecycleSql _),
    "kv_salted_insert" -> (kvSaltedInsert _),
    "kv_pivot_bucketed" -> (kvPivotBucketed _),
    "kv_versions_retain" -> (kvVersionsRetain _),
    "kv_ttl_expire" -> (kvTtlExpire _),
    "kv_compact_tombstones" -> (kvCompactTombstones _),
    "kv_snapshot_diff" -> (kvSnapshotDiff _),
    "kv_region_histogram" -> (kvRegionHistogram _),
    "kv_partitioned_scan" -> (kvPartitionedScan _),
    "kv_zorder_scan" -> (kvZorderScan _),
    "kv_index_lookup" -> (kvIndexLookup _),
    "kv_append_cells" -> (kvAppendCells _),
    "kv_compacted_scan" -> (kvCompactedScan _),
    "kv_maintained_scan" -> (kvMaintainedScan _),
    "kv_timetravel_scan" -> (kvTimetravelScan _),
    "kv_changes_scan" -> (kvChangesScan _),
    "kv_changes_table" -> (kvChangesTable _),
    "kv_history" -> (kvHistory _),
    "kv_history_sql" -> (kvHistorySqlProc _),
    "kv_vacuumed_scan" -> (kvVacuumedScan _),
    "kv_typed_decode" -> (kvTypedDecode _),
    "kv_typed_export" -> (kvTypedExport _),
    "kv_unpivot" -> (kvUnpivot _),
    "export_txt_roundtrip" -> (exportTxtRoundtrip _),
    "export_seq_roundtrip" -> (exportSeqRoundtrip _),
    "export_avro_roundtrip" -> (exportAvroRoundtrip _),
    "reader_avro_limit" -> (readerAvroLimit _),
    "reader_parquet_limit" -> (readerParquetLimit _),
    "reader_topn_desc" -> (readerTopnDesc _),
    "kv_stats_bounds" -> (kvStatsBounds _),
    "kv_point_lookup" -> (kvPointLookup _),
    "kv_snapshot_restore" -> (kvSnapshotRestore _),
    "kv_ttl_compact" -> (kvTtlCompact _),
    "kv_retention_changes" -> (kvRetentionChanges _),
    "kv_replicated_retention" -> (kvReplicatedRetention _),
    "kv_state_merge_retention" -> (kvStateMergeRetention _),
    "kv_retention_decl" -> (kvRetentionDecl _),
    "kv_delete_mask" -> (kvDeleteMask _),
    "kv_delete_compact" -> (kvDeleteCompact _),
    "kv_catalog_sql" -> (kvCatalogSql _),
    "kv_colocated_join" -> (kvColocatedJoin _),
    "kv_sql_crud" -> (kvSqlCrud _),
    "kv_crud_masked" -> (kvCrudMasked _),
    "kv_runtime_prune" -> (kvRuntimePrune _),
    "kv_salted_scan" -> (kvSaltedScan _),
    "kv_resalt_scan" -> (kvResaltScan _),
    "kv_index_maintained" -> (kvIndexMaintained _),
    "kv_index_auto" -> (kvIndexAuto _),
    "kv_index_sql" -> (kvIndexSql _),
    "kv_index_composite" -> (kvIndexComposite _),
    "kv_index_auto_composite" -> (kvIndexAutoComposite _),
    "kv_index_sql_composite" -> (kvIndexSqlComposite _),
    "kv_index_covered" -> (kvIndexCovered _),
    "kv_index_salted" -> (kvIndexSalted _),
    "kv_index_topn" -> (kvIndexTopn _),
    "kv_index_topn_range" -> (kvIndexTopnRange _),
    "kv_index_topn_stale" -> (kvIndexTopnStale _),
    "kv_index_topn_wide" -> (kvIndexTopnWide _),
    "kv_index_topn_composite" -> (kvIndexTopnComposite _),
    "kv_fsck" -> (kvFsck _),
    "kv_split_scan" -> (kvSplitScan _),
    "kv_incremental_pivot" -> (kvIncrementalPivot _),
    "export_parquet_roundtrip" -> (exportParquetRoundtrip _),
    "export_orc_roundtrip" -> (exportOrcRoundtrip _),
    "export_json_roundtrip" -> (exportJsonRoundtrip _),
    "export_evolve_roundtrip" -> (exportEvolveRoundtrip _),
    "rel_enrich_join" -> (relEnrichJoin _),
    "rel_topk_orders" -> (relTopkOrders _),
    "rel_skew_agg" -> (relSkewAgg _),
    "rel_asof_join" -> (relAsofJoin _),
    "rel_range_join" -> (relRangeJoin _),
    "rel_rollup" -> (relRollup _),
    "rel_cube" -> (relCube _),
    "rel_pagerank" -> (relPagerank _),
    "rel_quantiles" -> (relQuantiles _),
    "rel_semi_anti" -> (relSemiAnti _),
    "rel_gapfill" -> (relGapfill _),
    "rel_moving_avg" -> (relMovingAvg _),
    "rel_triangles" -> (relTriangles _),
    "kv_json_extract" -> (kvJsonExtract _),
    "rel_bloom_join" -> (relBloomJoin _),
    "rel_bucketed_join" -> (relBucketedJoin _),
    "rel_incremental_agg" -> (relIncrementalAgg _),
    "agg_distinct_kmv" -> (aggDistinctKmv _),
    "agg_quantiles_sketch" -> (aggQuantilesSketch _),
    "rel_set_ops" -> (relSetOps _),
    "txt_tokens" -> (txtTokens _),
    "txt_quality" -> (txtQuality _),
    "txt_langid" -> (txtLangId _),
    "txt_fingerprint" -> (txtFingerprint _),
    "txt_topterms" -> (txtTopterms _),
    "txt_topterms_sketch" -> (txtToptermsSketch _),
    "txt_repetition" -> (txtRepetition _),
    "txt_redact_pii" -> (txtRedactPii _),
    "pipe_quality_filter" -> (pipeQualityFilter _),
    "pipe_clean_corpus" -> (pipeCleanCorpus _),
    "pipe_chunk_docs" -> (pipeChunkDocs _),
    "pipe_corpus_stats" -> (pipeCorpusStats _),
    "sample_bernoulli" -> (sampleBernoulli _),
    "sample_stratified" -> (sampleStratified _),
    "pipe_corpus_mix" -> (pipeCorpusMix _),
    "pipe_interleave" -> (pipeInterleave _),
    "pipe_dataset_split" -> (pipeDatasetSplit _),
    "pipe_epoch_shuffle" -> (pipeEpochShuffle _),
    "pipe_tfidf" -> (pipeTfidf _),
    "pipe_decontaminate" -> (pipeDecontaminate _),
    "pipe_canonical_corpus" -> (pipeCanonicalCorpus _),
    "dedup_incremental" -> (dedupIncremental _),
    "pipe_pack_windows" -> (pipePackWindows _),
    "pipe_pack_firstfit" -> (pipePackFirstfit _),
    "txt_bpe_tokens" -> (txtBpeTokens _),
    "txt_bpe_train" -> (txtBpeTrain _),
    "pipe_pack_bpe" -> (pipePackBpe _),
    "dedup_exact" -> (dedupExact _),
    "dedup_paragraph" -> (dedupParagraph _),
    "dedup_jaccard_pairs" -> (dedupJaccardPairs _),
    "dedup_substring" -> (dedupSubstring _),
    "dedup_jaccard_df" -> (dedupJaccardDf _),
    "dedup_minhash_sig" -> (dedupMinhashSig _),
    "dedup_minhash_pairs" -> (dedupMinhashPairs _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_simhash_pairs" -> (dedupSimhashPairs _),
    "dedup_embed_pairs" -> (dedupEmbedPairs _),
    "dedup_semantic" -> (dedupSemantic _),
    "pipe_semantic_corpus" -> (pipeSemanticCorpus _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_embed_lsh_pairs" -> (dedupEmbedLshPairs _),
    "ann_topk_brute" -> (annTopkBrute _),
    "ann_topk_quant" -> (annTopkQuant _),
    "ann_topk_quant_rerank" -> (annTopkQuantRerank _),
    "ann_topk_lsh" -> (annTopkLsh _),
    "ann_topk_ivf" -> (annTopkIvf _),
    "ann_topk_ivf_pruned" -> (annTopkIvfPruned _),
    "ann_topk_ivf_incremental" -> (annTopkIvfIncremental _),
    "mm_features" -> (mmFeatures _),
    "mm_features_pretrained" -> (mmFeaturesPretrained _),
    "mm_coverage" -> (mmCoverage _),
    "mm_frames" -> (mmFrames _),
    "mm_resize" -> (mmResize _),
    "mm_resample" -> (mmResample _),
    "mm_near_dup" -> (mmNearDup _),
    "mm_video_decode" -> (mmVideoDecode _),
    "stream_pivot" -> (streamPivot _),
    "stream_kv_tail" -> (streamKvTail _),
    "stream_kv_pipe" -> (streamKvPipe _),
    "kv_salted_stream" -> (kvSaltedStream _),
    "kv_tail_resume" -> (kvTailResume _),
    "kv_tail_resume_table" -> (kvTailResumeTable _),
    "stream_kv_index" -> (streamKvIndex _),
    "stream_enrich" -> (streamEnrich _),
    "stream_ingest_dedup" -> (streamIngestDedup _),
    "stream_window_sketch" -> (streamWindowSketch _),
    "stream_increment" -> (streamIncrement _),
    "stream_join" -> (streamJoin _),
    "stream_dedup" -> (streamDedup _),
    "stream_sessions" -> (streamSessions _),
    "stream_sessions_late" -> (streamSessionsLate _),
    "stream_pivot_late" -> (streamPivotLate _),
    "stream_memstore_versions" -> (streamMemstoreVersions _),
    "stream_memstore" -> (streamMemstore _))

  def oracles: Map[String, String] = Map(
    "kv_pivot_events" -> kvPivotEventsSql,
    "kv_split_scan" -> kvPivotEventsSql, // split must be invisible: same oracle
    "kv_incremental_pivot" -> kvPivotEventsSql, // state+delta must equal the rebuild
    "kv_v2_range_scan" -> kvV2RangeScanSql,
    "kv_pivot_inject" -> kvPivotInjectSql,
    "kv_delimited_lines" -> kvDelimitedLinesSql,
    "kv_gen_cells" -> kvGenCellsSql,
    "kv_pivot_presorted" -> kvPivotPresortedSql,
    "kv_pivot_auto" -> kvPivotPresortedSql, // same result, route auto-chosen
    "kv_pivot_auto_masked" -> kvPivotAutoMaskedSql,
    "kv_pivot_salted" -> kvPivotPresortedSql, // salt invisible: same oracle
    "kv_clone_scan" -> kvCloneScanSql,
    "kv_lifecycle_sql" -> kvLifecycleSqlSql,
    "kv_salted_insert" -> kvCatalogSqlSql, // same logical view: salt invisible
    "kv_pivot_bucketed" -> kvPivotPresortedSql,
    "kv_versions_retain" -> kvVersionsRetainSql,
    "kv_ttl_expire" -> kvTtlExpireSql,
    "kv_compact_tombstones" -> kvCompactTombstonesSql,
    "kv_snapshot_diff" -> kvSnapshotDiffSql,
    "kv_region_histogram" -> kvRegionHistogramSql,
    "kv_partitioned_scan" -> kvPartitionedScanSql,
    "kv_zorder_scan" -> kvZorderScanSql,
    "kv_index_lookup" -> kvIndexLookupSql,
    "kv_append_cells" -> kvAppendCellsSql,
    "kv_compacted_scan" -> kvPivotEventsSql,
    "kv_maintained_scan" -> kvPivotEventsSql,
    "kv_timetravel_scan" -> kvTimetravelScanSql,
    "kv_changes_scan" -> kvChangesScanSql,
    "kv_changes_table" -> kvChangesScanSql, // same span, resolved by name
    "kv_history" -> kvHistorySql,
    "kv_history_sql" -> kvHistorySql, // same literal log, CALLed by name

    "kv_vacuumed_scan" -> kvPivotEventsSql,
    "kv_typed_decode" -> kvTypedDecodeSql,
    "kv_typed_export" -> kvTypedExportSql,
    "kv_unpivot" -> kvUnpivotSql,
    "export_txt_roundtrip" -> delimitedRoundtripSql,
    "export_seq_roundtrip" -> delimitedRoundtripSql,
    "export_avro_roundtrip" -> kvTypedExportSql,
    "reader_avro_limit" -> readerLimitSql,
    "reader_parquet_limit" -> readerLimitSql,
    "reader_topn_desc" -> readerTopnDescSql,
    "kv_stats_bounds" -> kvStatsBoundsSql,
    "kv_point_lookup" -> kvPointLookupSql,
    "kv_snapshot_restore" -> kvGenCellsSql,
    "kv_ttl_compact" -> kvTtlCompactSql,
    // same expected state as kv_ttl_compact: the CDC reconstruction must
    // land exactly on the post-retention table
    "kv_retention_changes" -> kvTtlCompactSql,
    // and the replica fed baseline + raw feed must converge on it too
    "kv_replicated_retention" -> kvTtlCompactSql,
    "kv_state_merge_retention" -> kvStateMergeRetentionSql,
    "kv_retention_decl" -> kvRetentionDeclSql,
    "kv_delete_mask" -> kvDeleteMaskSql,
    "kv_delete_compact" -> kvDeleteMaskSql, // same survivor set, physically applied
    "kv_catalog_sql" -> kvCatalogSqlSql,
    "kv_colocated_join" -> kvColocatedJoinSql,
    "kv_sql_crud" -> kvSqlCrudSql,
    "kv_crud_masked" -> kvCrudMaskedSql,
    "kv_runtime_prune" -> kvRuntimePruneSql,
    "kv_salted_scan" -> kvV2RangeScanSql, // salt must be invisible: same oracle
    "kv_resalt_scan" -> kvV2RangeScanSql, // ...and so must a layout CONVERSION
    "kv_index_maintained" -> kvIndexMaintainedSql,
    "kv_index_auto" -> kvIndexMaintainedSql,
    "kv_index_sql" -> kvIndexMaintainedSql,
    "kv_index_composite" -> kvIndexCompositeSql,
    "kv_index_auto_composite" -> kvIndexCompositeSql,
    "kv_index_sql_composite" -> kvIndexCompositeSql,
    "kv_index_covered" -> kvIndexCoveredSql,
    "kv_index_salted" -> kvIndexCoveredSql,
    "kv_index_topn" -> kvIndexTopnSql,
    "kv_index_topn_range" -> kvIndexTopnRangeSql,
    "kv_index_topn_stale" -> kvIndexTopnStaleSql,
    "kv_index_topn_wide" -> kvIndexTopnWideSql,
    "kv_index_topn_composite" -> kvIndexTopnCompositeSql,
    "kv_fsck" -> kvFsckSql,
    "export_orc_roundtrip" -> kvTypedExportSql,
    "export_json_roundtrip" -> kvTypedExportSql,
    "export_evolve_roundtrip" -> exportEvolveRoundtripSql,
    "export_parquet_roundtrip" -> kvTypedExportSql,
    "rel_enrich_join" -> relEnrichJoinSql,
    "rel_topk_orders" -> relTopkOrdersSql,
    "rel_skew_agg" -> relSkewAggSql,
    "rel_asof_join" -> relAsofJoinSql,
    "rel_range_join" -> relRangeJoinSql,
    "rel_rollup" -> relRollupSql,
    "rel_cube" -> relCubeSql,
    "rel_pagerank" -> relPagerankSql,
    "rel_quantiles" -> relQuantilesSql,
    "rel_semi_anti" -> relSemiAntiSql,
    "rel_gapfill" -> relGapfillSql,
    "rel_moving_avg" -> relMovingAvgSql,
    "rel_triangles" -> relTrianglesSql,
    "kv_json_extract" -> kvJsonExtractSql,
    "rel_bloom_join" -> relBloomJoinSql,
    "rel_bucketed_join" -> relBucketedJoinSql,
    "rel_incremental_agg" -> relIncrementalAggSql,
    "agg_distinct_kmv" -> aggDistinctKmvSql,
    "agg_quantiles_sketch" -> relQuantilesSql,
    "rel_set_ops" -> relSetOpsSql,
    "txt_tokens" -> txtTokensSql,
    "txt_quality" -> txtQualitySql,
    "txt_langid" -> txtLangIdSql,
    "txt_fingerprint" -> txtFingerprintSql,
    "txt_topterms" -> txtToptermsSql,
    "txt_topterms_sketch" -> txtToptermsSql,
    "txt_repetition" -> txtRepetitionSql,
    "txt_redact_pii" -> txtRedactPiiSql,
    "pipe_quality_filter" -> pipeQualityFilterSql,
    "pipe_clean_corpus" -> pipeCleanCorpusSql,
    "pipe_chunk_docs" -> pipeChunkDocsSql,
    "pipe_corpus_stats" -> pipeCorpusStatsSql,
    "sample_bernoulli" -> sampleBernoulliSql,
    "sample_stratified" -> sampleStratifiedSql,
    "pipe_corpus_mix" -> pipeCorpusMixSql,
    "pipe_interleave" -> pipeInterleaveSql,
    "pipe_dataset_split" -> pipeDatasetSplitSql,
    "pipe_epoch_shuffle" -> pipeEpochShuffleSql,
    "pipe_tfidf" -> pipeTfidfSql,
    "pipe_decontaminate" -> pipeDecontaminateSql,
    "pipe_canonical_corpus" -> pipeCanonicalCorpusSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "pipe_pack_windows" -> pipePackWindowsSql,
    "pipe_pack_firstfit" -> pipePackFirstfitSql,
    "txt_bpe_tokens" -> txtBpeTokensSql,
    "txt_bpe_train" -> txtBpeTrainSql,
    "pipe_pack_bpe" -> pipePackBpeSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_paragraph" -> dedupParagraphSql,
    "dedup_jaccard_pairs" -> dedupJaccardPairsSql,
    "dedup_substring" -> dedupSubstringSql,
    "dedup_jaccard_df" -> dedupJaccardDfSql,
    "dedup_minhash_sig" -> dedupMinhashSigSql,
    "dedup_minhash_pairs" -> dedupMinhashPairsSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_simhash_pairs" -> dedupSimhashPairsSql,
    "dedup_embed_pairs" -> dedupEmbedPairsSql,
    "dedup_semantic" -> dedupSemanticSql,
    "pipe_semantic_corpus" -> pipeSemanticCorpusSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_embed_lsh_pairs" -> dedupEmbedLshPairsSql,
    "ann_topk_brute" -> annTopkBruteSql,
    "ann_topk_quant" -> annTopkQuantSql,
    "ann_topk_quant_rerank" -> annTopkQuantRerankSql,
    "ann_topk_lsh" -> annTopkLshSql,
    "ann_topk_ivf" -> annTopkIvfSql,
    "ann_topk_ivf_pruned" -> annTopkIvfSql,
    "ann_topk_ivf_incremental" -> annTopkIvfSql,
    "mm_features" -> mmFeaturesSql,
    "mm_features_pretrained" -> mmFeaturesPretrainedSql,
    "mm_coverage" -> mmCoverageSql,
    "mm_frames" -> mmFramesSql,
    "mm_resize" -> mmResizeSql,
    "mm_resample" -> mmResampleSql,
    "mm_near_dup" -> mmNearDupSql,
    "mm_video_decode" -> mmVideoDecodeSql,
    "stream_pivot" -> streamPivotSql,
    "stream_kv_tail" -> kvPivotEventsSql,
    "stream_kv_pipe" -> streamKvPipeSql,
    "kv_salted_stream" -> streamKvPipeSql, // salt invisible end to end
    "kv_tail_resume" -> kvGenCellsSql, // bridged union == the full table
    "kv_tail_resume_table" -> kvGenCellsSql, // same bridge, by name + salted

    "stream_kv_index" -> kvIndexLookupSql,
    "stream_enrich" -> streamEnrichSql,
    "stream_ingest_dedup" -> streamIngestDedupSql,
    "stream_window_sketch" -> streamWindowSketchSql,
    "stream_increment" -> streamIncrementSql,
    "stream_join" -> streamJoinSql,
    "stream_dedup" -> streamDedupSql,
    "stream_sessions" -> streamSessionsSql,
    "stream_sessions_late" -> streamSessionsSql,
    "stream_pivot_late" -> streamPivotSql,
    "stream_memstore_versions" -> streamMemstoreVersionsSql,
    "stream_memstore" -> streamMemstoreSql)
}
