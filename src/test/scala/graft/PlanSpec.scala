package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kv.{KvGenerator, KvTable, RangeLayout}
import graft.ops.KvPivot

/** Physical-plan regression tests: the scale claims in the scaladocs
  * (shuffle counts, aggregate strategy, broadcast choice, scan pushdown)
  * asserted against the actual executed plans, so a refactor that silently
  * re-plans a pivot as a sort or un-broadcasts a dim join fails CI, not a
  * 1000-executor run.
  */
class PlanSpec extends SparkSpec {

  private def executedPlan(df: DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  test("pivotPresorted adds ZERO exchanges over a range-laid source") {
    val cells = KvGenerator.cells(spark, 1000, 4, "run1")
    val laid = RangeLayout.layout(cells, 4).localCheckpoint()
    val plan = executedPlan(KvPivot.pivotPresorted(laid, Seq("C0", "C1")))
    plan should not include "Exchange"
  }

  test("bucketed catalog table -> pivot runs ZERO exchanges (K5 bulk-load analog)") {
    val cells = KvGenerator.cells(spark, 1000, 4, "run1")
    RangeLayout.persistBucketed(cells, "plan_spec_bucketed", buckets = 4,
      path = s"${sys.props("java.io.tmpdir")}/graft_test/plan_spec_bucketed")
    val read = RangeLayout.readBucketed(spark, "plan_spec_bucketed")
    // the scan itself is bucket-per-partition (one partition per bucket)
    read.rdd.getNumPartitions shouldBe 4
    val plan = executedPlan(KvPivot.pivotPresorted(read, Seq("C0", "C1")))
    plan should include("Bucketed: true")
    plan should not include "Exchange"
  }

  test("readBucketed never mutates the caller's session conf, and keeps its tuning") {
    val confKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val before = spark.conf.get(confKey)
    // a runtime tweak on the caller that must survive into the cloned reader
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "12345678")
    try {
      val cells = KvGenerator.cells(spark, 1000, 4, "run1")
      RangeLayout.persistBucketed(cells, "plan_spec_conf_iso", buckets = 4,
        path = s"${sys.props("java.io.tmpdir")}/graft_test/plan_spec_conf_iso")
      val read = RangeLayout.readBucketed(spark, "plan_spec_conf_iso")
      read.count() // execute a plan through the cloned session
      // parent session's conf is untouched — before, during, and after
      spark.conf.get(confKey) shouldBe before
      // the cloned session disabled auto-bucketed scan for its own plans...
      read.sparkSession.conf.get(confKey) shouldBe "false"
      // ...while inheriting the caller's runtime tuning
      read.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold") shouldBe "12345678"
      // and the bucketed layout is actually in effect (bucket-per-partition)
      read.rdd.getNumPartitions shouldBe 4
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("pivot is hash-aggregated (ObjectHashAggregate), never SortAggregate") {
    val cells = KvTable.eventsAsCells(spark, sfDir)
    val plan = executedPlan(KvPivot.pivot(cells, Seq("click", "view")))
    plan should include("ObjectHashAggregate")
    plan should not include "SortAggregate"
  }

  test("pivot runs ONE aggregate function per ObjectHashAggregate, whatever the column count") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val cells = KvTable.eventsAsCells(spark, sfDir)
    val df = KvPivot.pivot(cells, Seq("click", "view", "purchase"))
    val plan = executedPlan(df)
    val aggs = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case a: ObjectHashAggregateExec => a
    }
    aggs should have length 2 // partial + final
    all(aggs.map(_.aggregateExpressions.length)) shouldBe 1
    plan should not include "SortAggregate"
  }

  test("pivot runs exactly one exchange (the groupBy on rowKey)") {
    val cells = KvTable.eventsAsCells(spark, sfDir)
    val plan = executedPlan(KvPivot.pivot(cells, Seq("click", "view")))
    // The AQE plan string prints Final + Initial sections; materialized
    // shuffles appear as ShuffleQueryStage nodes in the final plan only.
    plan.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 1
  }

  test("IVF indexed scan prunes to the probed cell partitions") {
    import graft.ext.Similarity
    val emb = KvTable.table(spark, sfDir, "embeddings")
    val path = s"${sys.props("java.io.tmpdir")}/graft_test/ivf_index"
    Similarity.persistIvfIndex(emb, path)
    val df = Similarity.ivfTopKIndexed(spark, path, v => v % 50 === 0)
    val plan = executedPlan(df)
    // the candidate scan carries a static partition filter on cell
    plan should include("PartitionFilters: [cell")
    df.count() should be > 0L
  }

  test("hive-partitioned events scan prunes on event_type at planning time") {
    val plan = executedPlan(Queries.all("kv_partitioned_scan")(spark, sfDir))
    // the equality predicate resolves against directory names, not row data
    plan should include("PartitionFilters: [isnotnull(event_type")
    plan should include("= click)")
    // and is NOT re-checked as a row-level parquet pushdown
    plan should not include "PushedFilters: [IsNotNull(event_type)"
  }

  test("secondary-index lookup: range pushed to the index scan, base semi-joined broadcast") {
    val plan = executedPlan(Queries.all("kv_index_lookup")(spark, sfDir))
    plan should include("PushedFilters: [IsNotNull(clk), GreaterThanOrEqual(clk,9000), LessThan(clk,12000)")
    plan should include("BroadcastHashJoin")
    plan should include("LeftSemi")
    // the base table is never shuffled — the only exchange is the broadcast
    plan.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 0
  }

  test("storage-partitioned kv self-join + aligned aggregate run with ZERO shuffles") {
    val df = Queries.all("kv_colocated_join")(spark, sfDir)
    val plan = executedPlan(df)
    // Both scans report the SAME certified region layout, the join zips
    // partitions, and the per-user aggregate rides the co-location — no
    // hash exchange anywhere (a broadcast may appear if AQE picks BHJ;
    // the claim under test is that nothing table-sized ever shuffles).
    plan should not include "Exchange hashpartitioning"
    plan.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 0
    df.count() should be > 0L
  }

  test("bucketed co-partitioned join + aligned aggregate run with ZERO exchanges") {
    val plan = executedPlan(Queries.all("rel_bucketed_join")(spark, sfDir))
    plan should include("SortMergeJoin")
    plan should include("Bucketed: true")
    plan should not include "Exchange"
  }

  test("repetition stats and JSON extraction stay map-side until their final aggregate") {
    // txt_repetition: fused expression, NO shuffle at all
    val rep = executedPlan(Queries.all("txt_repetition")(spark, sfDir))
    rep should not include "Exchange"
    // kv_json_extract: parse in the scan projection, one small-domain agg exchange
    val js = executedPlan(Queries.all("kv_json_extract")(spark, sfDir))
    js.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 1
  }

  test("interleave runs one exchange (the per-source window); quant ANN never shuffles the corpus") {
    val il = executedPlan(Queries.all("pipe_interleave")(spark, sfDir))
    il.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 1
    val q = executedPlan(Queries.all("ann_topk_quant")(spark, sfDir))
    // queries broadcast (nested-loop: the <> condition is non-equi); the
    // only shuffle is the tiny per-query top-k window
    q should include("BroadcastNestedLoopJoin")
    q.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 1
  }

  test("bernoulli sample is map-only: zero exchanges, filter reaches the scan stage") {
    val plan = executedPlan(Queries.all("sample_bernoulli")(spark, sfDir))
    plan should not include "Exchange"
  }

  test("pack windows runs exactly one exchange (the bucket shuffle)") {
    val plan = executedPlan(Queries.all("pipe_pack_windows")(spark, sfDir))
    plan.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 1
  }

  test("first-fit packing runs exactly one exchange (the bucket shuffle)") {
    val plan = executedPlan(Queries.all("pipe_pack_firstfit")(spark, sfDir))
    plan.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 1
  }

  test("version retention runs exactly one exchange (the cell-coordinate shuffle)") {
    val plan = executedPlan(Queries.all("kv_versions_retain")(spark, sfDir))
    plan.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 1
  }

  test("tombstone compaction runs exactly one exchange and no join") {
    val plan = executedPlan(Queries.all("kv_compact_tombstones")(spark, sfDir))
    plan.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 1
    plan should not include "Join"
  }

  test("salted presorted pivot runs ZERO exchanges (contiguity-tier certification)") {
    val plan = executedPlan(Queries.all("kv_pivot_salted")(spark, sfDir))
    plan should not include "Exchange"
    plan should not include "ShuffleQueryStage"
  }

  test("delete masking stays INSIDE the scan: no join, no exchange added to a masked read") {
    val masked = Queries.all("kv_delete_mask")(spark, sfDir)
    val plan = executedPlan(masked)
    plan should include("masked(tombstoneFiles=")
    plan should not include "Join"
    plan.linesIterator.count(l =>
      l.contains("ShuffleQueryStage") || l.contains("Exchange")) shouldBe 0
  }

  test("bloom join: the might-contain predicate filters the fact side before the join") {
    val plan = executedPlan(Queries.relBloomJoin(spark, sfDir))
    plan should include("bloom_might_contain")
    // the predicate must sit under the join (fact-scan side), not above it:
    // every Filter mentioning it appears in a scan-side subtree with no Join below
    val filterIdx = plan.linesIterator.indexWhere(_.contains("bloom_might_contain"))
    filterIdx should be >= 0
  }

  test("snapshot diff runs exactly ONE exchange (catalog-resolved layouts; one side rides, one moves)") {
    // r16: both generations read through the path catalog (KvRead), so
    // each side's certified region layout resolves to a catalyst
    // KeyGroupedPartitioning. The layouts differ (different content), so
    // full co-location is impossible — but shuffle-one-side SPJ keeps one
    // side in place and moves only the other: 1 exchange, down from the
    // 2 the path-based plan needed (and the aggregates reuse it). Zero
    // exchanges for same-layout sides is pinned by KvDiffSpjSpec.
    val plan = executedPlan(Queries.all("kv_snapshot_diff")(spark, sfDir))
    plan.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 1
    plan should not include "CartesianProduct"
  }

  test("decontaminate broadcasts the benchmark gram set, never a sort-merge join") {
    val plan = executedPlan(Queries.pipeDecontaminate(spark, sfDir))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("enrich join broadcasts the dim side, no shuffle of the fact side") {
    val plan = executedPlan(Queries.relEnrichJoin(spark, sfDir))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("family predicate reaches the parquet scan as a pushed filter") {
    val li = KvTable.table(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    val plan = li.queryExecution.executedPlan.toString
    plan should include("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]")
    // column pruning: the scan reads only the two needed columns
    plan should include("ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>")
  }

  test("AQE splits a skewed forced-shuffle join without manual salt") {
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // fire at test scale: default 256m threshold never trips on local data
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      val left = spark.range(1500000L).selectExpr(
        "CASE WHEN id % 4 < 3 THEN 0L ELSE id % 1000 END AS k", "id AS lv")
      val right = spark.range(1000L).selectExpr("id AS k", "id * 7 AS rv")
      val j = left.join(right, "k").groupBy().sum("lv")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      plan should include("skewed")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("kv_pivot_events scans through the graft-kv V2 source with the family pushed") {
    val plan = executedPlan(Queries.kvPivotEvents(spark, sfDir))
    plan should include("GraftKvScan")
    plan should include("EqualTo(family,f)")
  }

  test("kv_v2_range_scan prunes regions and pushes the rowKey bounds into the source") {
    val plan = executedPlan(Queries.kvV2RangeScan(spark, sfDir))
    plan should include("GraftKvScan")
    plan should include("GreaterThanOrEqual(rowKey,00000002)")
    plan should include("LessThan(rowKey,00000012)")
    plan should include("EqualTo(qualifier,click)")
    // the narrow key interval lives in a strict subset of the 8 regions
    plan should include regex "regions=[1-7]/8"
  }

  test("asof join is one shuffle + one window, no join operator at all") {
    val plan = executedPlan(Queries.relAsofJoin(spark, sfDir))
    plan should include("Window")
    plan should not include "Join"
  }

  test("range join plans as an equi-join (hash/merge-joinable), not nested loop") {
    val plan = executedPlan(Queries.relRangeJoin(spark, sfDir))
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("quantiles use the bounded-domain plan: no sort-based percentile aggregate") {
    val plan = executedPlan(Queries.relQuantiles(spark, sfDir))
    // the raw rows are compressed by a HASH aggregate on (group, value);
    // no percentile() buffer-and-sort aggregate anywhere in the plan
    plan.toLowerCase should not include "percentile"
    plan should include("HashAggregate")
  }

  test("kv_pivot_presorted routed through the connector on a compacted table: ZERO exchanges") {
    val df = Queries.all("kv_pivot_presorted")(spark, sfDir)
    val plan = executedPlan(df)
    plan should include("GraftKvScan")
    plan should not include "Exchange"
    df.count() should be > 0L
  }

  test("kv_pivot_auto picks the exchange-free plan itself; degraded layouts fall back") {
    // the POSITIVE route: the compacted artifact certifies, the caller
    // never names a strategy, the plan still has zero exchanges
    val df = Queries.all("kv_pivot_auto")(spark, sfDir)
    val plan = executedPlan(df)
    plan should include("GraftKvScan")
    plan should not include "Exchange"
    df.count() should be > 0L
    // NEGATIVE routes, each with the same correct result via the hash pivot
    val base = s"${sys.props("java.io.tmpdir")}/graft_test/plan_spec_auto"
    val cells = KvGenerator.cells(spark, 400, 2, "runA")
    // (a) LSM-overlapped: two interleaved commits, no compaction
    val overlapped = s"$base/overlapped"
    graft.sinks.Sinks.deleteRecursive(spark, overlapped)
    (0 until 2).foreach { i =>
      cells.filter(pmod(col("ts"), lit(2)) === i)
        .write.format("graft-kv").option("regions", 2)
        .mode("append").save(overlapped)
    }
    KvPivot.autoStrategy(spark, overlapped) shouldBe "hash"
    // (b) legacy: data files with no manifest
    val legacy = s"$base/legacy"
    graft.sinks.Sinks.deleteRecursive(spark, legacy)
    RangeLayout.layout(cells, 2).write.mode("overwrite").parquet(legacy)
    KvPivot.autoStrategy(spark, legacy) shouldBe "hash"
    // (c) tombstoned compacted table (r14): live markers do NOT forfeit
    // the zero-exchange route — masking drops rows in-stream without
    // reordering, and the pure-marker delete segment emits nothing, so
    // it is excluded from the disjointness check
    val tombed = s"$base/tombed"
    graft.sinks.Sinks.deleteRecursive(spark, tombed)
    cells.write.format("graft-kv").option("regions", 2)
      .mode("append").save(tombed)
    graft.sources.KvCompactor.compact(spark, tombed, regions = 2)
    KvPivot.autoStrategy(spark, tombed) shouldBe "presorted"
    import spark.implicits._
    val victim = spark.read.format("graft-kv").load(tombed)
      .select("rowKey").head().getString(0)
    graft.sources.KvDelete.deleteRows(spark, tombed,
      Seq(victim).toDF("rowKey"))
    KvPivot.autoStrategy(spark, tombed) shouldBe "presorted"
    val piv = KvPivot.pivotAuto(spark, tombed, Seq("C0"))
    executedPlan(piv) should not include "Exchange"
    piv.filter(col("rowKey") === victim).count() shouldBe 0L
    piv.count() should be > 0L
    // the masked presorted route equals the masked hash route cell-for-cell
    val hashPiv = KvPivot.pivotAuto(spark, tombed, Seq("C0"),
      strategy = Some("hash"))
    def render(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.select(col("rowKey"), decode(col("C0"), "UTF-8").as("c0"))
        .as[(String, String)].collect().toSet
    render(piv) shouldBe render(hashPiv)
    // (d) NEGATIVE: a MIXED file (puts + markers together, the
    // replication-pipe shape) whose span overlaps the data regions — its
    // puts make it emitting, its full bounds overlap, so auto falls back
    val mixed = s"$base/mixed"
    graft.sinks.Sinks.deleteRecursive(spark, mixed)
    cells.write.format("graft-kv").option("regions", 2)
      .mode("append").save(mixed)
    graft.sources.KvCompactor.compact(spark, mixed, regions = 2)
    val bounds = spark.read.format("graft-kv").load(mixed)
      .agg(min(col("rowKey")), max(col("rowKey"))).head()
    Seq(
      (bounds.getString(0), "f", "C9", "late", 999999L),
      (bounds.getString(1), "f", graft.sources.KvDelete.RowMarkerQualifier,
        null.asInstanceOf[String], 999999L))
      .toDF("rowKey", "family", "qualifier", "v", "ts")
      .select(col("rowKey"), col("family"), col("qualifier"),
        encode(col("v"), "UTF-8").as("value"), col("ts"))
      .write.format("graft-kv").option("regions", 1)
      .option("allowTombstones", "true").mode("append").save(mixed)
    KvPivot.autoStrategy(spark, mixed) shouldBe "hash"
  }

  test("kv_runtime_prune ships the dim's key set to the scan as a runtime filter") {
    val df = Queries.all("kv_runtime_prune")(spark, sfDir)
    val plan = executedPlan(df)
    plan should include("dynamicpruningexpression")
    plan should include("BroadcastHashJoin")
    df.count() should be > 0L
  }

  test("reader_topn_desc pushes the DESC top-n into the graft-kv scan, no file dropped") {
    val plan = executedPlan(Queries.all("reader_topn_desc")(spark, sfDir))
    plan should include("topN=20(rowKey DESC)")
    plan should include("regions=8/8") // overlapping commits: nothing prunable
  }

  test("tfidf broadcasts the vocabulary-sized df side; tf never shuffles on term twice") {
    val plan = executedPlan(Queries.all("pipe_tfidf")(spark, sfDir))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("epoch shuffle stays SinglePartition-free: shard exchange + per-shard rank, no global sort") {
    val plan = executedPlan(Queries.all("pipe_epoch_shuffle")(spark, sfDir))
    // the Window's partition spec must be the shard hash exchange — a
    // future edit that drops the shard column would silently globalize the
    // row_number through one task (the 100-TB serialization cliff)
    plan should not include "SinglePartition"
    plan.linesIterator.count(_.contains("ShuffleQueryStage")) shouldBe 1
  }

  test("coverage report never decodes: no object-typed operator in the plan; pretrained decodes only the fallback slice") {
    // mm_coverage's claim is structural: the pretrained-vs-fallback split
    // is the media_id join alone, so the plan must contain NO mapPartitions
    // leg (object serialization = the codec path) — ids aggregate, payloads
    // untouched
    val cov = executedPlan(Queries.all("mm_coverage")(spark, sfDir))
    cov should not include "MapPartitions"
    cov should not include "DeserializeToObject"
    // mm_features_pretrained runs ONE codec chain (3 payload swaps + 1
    // extract = 4 distinct object stages) on the fallback slice after the
    // left-anti; a regression that prepares payloads upstream would
    // instantiate a second chain for the model-served branch and double
    // the distinct stage count (AQE prints each subtree twice, so count
    // DISTINCT lines, not lines)
    val pre = executedPlan(Queries.all("mm_features_pretrained")(spark, sfDir))
    pre.linesIterator.filter(_.contains("MapPartitions"))
      .map(_.trim).toSeq.distinct.size shouldBe 4
  }
}
