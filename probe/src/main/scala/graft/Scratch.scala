package graft

/** SCALE-PROBE HARNESS — the evidence generator behind BASELINE.md's
  * scale sections (TTL/versions at 20M cells, the 8M-cell top-n
  * pricing, big-In costs, streaming state floors, …). Not a test suite
  * and not library surface: each named case is a deliberate, repeatable
  * measurement, run explicitly as
  * `sbt "probe/runMain graft.Scratch <case>"`. It lives in the
  * non-aggregated `probe` subproject (r20) so root `compile`/`test`
  * never build it — probes link against the library only — and writes
  * only under `java.io.tmpdir`.
  */
object Scratch {
  private val Tmp = sys.props("java.io.tmpdir").stripSuffix("/")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[time] $name%-30s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    // warmup
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    for (n <- args) n match {
      case "scale" =>
        // 2M generated records x 10 cells = 20M cells (~33x the sf0.1 bench
        // pivot input): linear-scaling evidence for the two pivot paths.
        val cols = Seq("C0", "C3", "C7", "KEY")
        def cells = graft.kv.KvGenerator.cells(spark, 2000000, 32, "scale")
        time("20M cells scan")(cells.count())
        time("20M pivot (shuffled)")(
          graft.ops.KvPivot.pivot(cells, cols, rowKeyCol = Some("KEY")).count())
        val laid = graft.kv.RangeLayout.layout(cells, 32)
        time("20M pivot (presorted, incl layout)")(
          graft.ops.KvPivot.pivotPresorted(laid, cols, rowKeyCol = Some("KEY")).count())
      case "resalt" =>
        // Cost of the in-place layout conversion vs the pure rewrite it
        // rides on: same 8M-cell / 2M-key table, salted 16; (a) a major
        // compaction (rewrite, no re-key) is the floor, (b) resalt 16->4
        // adds the strip+re-salt projection and the declaration commit,
        // (c) the point Get proves the converted layout serves pruned
        // lookups with no reader-side option.
        val rp = s"${Tmp}/graft_scratch/resalt_probe"
        graft.sinks.Sinks.deleteRecursive(spark, rp)
        def rcells = spark.range(8000000L).selectExpr(
          "lpad(CAST(id DIV 4 AS STRING), 9, '0') AS rowKey",
          "'f' AS family",
          "CASE id % 4 WHEN 0 THEN 'C0' WHEN 1 THEN 'C1' WHEN 2 THEN 'C2' " +
            "ELSE 'C3' END AS qualifier",
          "encode(CAST(id AS STRING), 'UTF-8') AS value", "id AS ts")
        time("stage salted(16) write")(
          graft.sources.KvSalt.saltedWrite(rcells, rp, n = 16, regions = 16,
            mode = "overwrite"))
        time("(a) major compaction (pure rewrite)")(
          println(graft.sources.KvCompactor.compact(spark, rp, regions = 16)))
        time("(b) resalt 16 -> 4")(
          println(graft.sources.KvResalt.resalt(spark, rp, Some(4),
            regions = Some(16))))
        val rg = time("(c) point Get after resalt")(
          spark.read.format("graft-kv").load(rp)
            .filter(org.apache.spark.sql.functions.col("rowKey") === "000000123")
            .count())
        println(s"get rows: $rg")

      case "index" =>
        // Secondary-index economics: value-range lookup via the
        // maintained index (pruned index scan + bloom-pruned verify
        // gets) vs the full-scan LWW filter it replaces, on 8M cells /
        // 2M keys. Also the refresh cost for a 50k-row delta.
        val ip = s"${Tmp}/graft_scratch/index_probe"
        graft.sinks.Sinks.deleteRecursive(spark, ip)
        def icells = spark.range(8000000L).selectExpr(
          "lpad(CAST(id DIV 4 AS STRING), 9, '0') AS rowKey",
          "'f' AS family",
          "CASE id % 4 WHEN 0 THEN 'amt' WHEN 1 THEN 'C1' WHEN 2 THEN 'C2' " +
            "ELSE 'C3' END AS qualifier",
          "encode(CAST((id * 37) % 10000000 AS STRING), 'UTF-8') AS value",
          "id AS ts")
        time("stage 8M cells (16 regions)")(
          icells.write.format("graft-kv").option("regions", 16)
            .mode("overwrite").save(ip))
        time("create index on amt (2M rows)")(
          graft.sources.KvIndex.create(spark, ip, "by_amt", "f", "amt",
            pad = 8, regions = 8))
        def fullScan = {
          import org.apache.spark.sql.functions._
          spark.read.format("graft-kv").load(ip)
            .filter(col("family") === "f" && col("qualifier") === "amt")
            .groupBy("rowKey")
            .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
              col("value"), col("ts")), "UTF-8").as("value"))
            .filter(col("value").cast("long") >= 5000000L &&
              col("value").cast("long") < 5000300L)
        }
        val nf = time("(a) full-scan LWW value filter")(fullScan.count())
        val ni = time("(b) index lookup, same range")(
          graft.sources.KvIndex.lookup(spark, ip, "by_amt",
            "5000000", "5000300").count())
        println(s"rows: full=$nf index=$ni")
        time("append 50k-row delta")(
          icells.limit(50000).write.format("graft-kv").option("regions", 1)
            .mode("append").save(ip))
        time("(c) incremental refresh of the delta")(
          println(graft.sources.KvIndex.refresh(spark, ip, "by_amt")))
        val n2 = time("(d) index lookup after refresh")(
          graft.sources.KvIndex.lookup(spark, ip, "by_amt",
            "5000000", "5000300").count())
        println(s"rows after refresh: $n2")

      case "colprune" =>
        // File-level family/qualifier pruning economics: a two-family
        // table (family-separated commits, 8M cells each) scanned for ONE
        // family — the pruned plan must only read half the files.
        import org.apache.spark.sql.functions._
        val cp = s"${Tmp}/graft_scratch/colprune_probe"
        graft.sinks.Sinks.deleteRecursive(spark, cp)
        def fam(f: String, base: Long) = spark.range(8000000L).selectExpr(
          "lpad(CAST(id AS STRING), 9, '0') AS rowKey",
          s"'$f' AS family", "'a' AS qualifier",
          "encode(CAST(id % 1000 AS STRING), 'UTF-8') AS value",
          s"id + ${base}L AS ts")
        time("stage family f (8M cells, 16 regions)")(
          fam("f", 0L).write.format("graft-kv").option("regions", 16)
            .mode("overwrite").save(cp))
        time("stage family g (8M cells, 16 regions)")(
          fam("g", 10000000L).write.format("graft-kv").option("regions", 16)
            .mode("append").save(cp))
        // A/B on the SAME logical predicate: the equality closes the
        // value set (file-level pruning applies); its range spelling
        // (family >= 'f' AND <= 'f') does not — the record filter alone
        // cuts the rows, every file planned. Identical answers.
        def famScan(pruned: Boolean) = spark.read.format("graft-kv").load(cp)
          .filter(if (pruned) col("family") === "f"
            else col("family") >= "f" && col("family") <= "f")
          .agg(count(lit(1)), max(col("ts")))
        famScan(pruned = true).collect() // warm FS caches
        famScan(pruned = false).collect()
        val nB = time("(a) family range spelling (no file pruning)")(
          famScan(pruned = false).collect()(0).getLong(0))
        val nF = time("(b) family equality (file-level pruned)")(
          famScan(pruned = true).collect()(0).getLong(0))
        println(s"rows: range=$nB pruned=$nF")
        Seq(true, false).foreach { p =>
          famScan(p).queryExecution.executedPlan.toString.linesIterator
            .filter(_.contains("regions=")).take(1).foreach(l =>
              println(s"plan(pruned=$p): " + l.trim.takeRight(50)))
        }

      case "scalehi" =>
        // High-cardinality regime: 21M cells over 7M DISTINCT keys (no
        // map-side collapse) — the shape of the sf0.1 typed export at ~12x.
        val hi = spark.range(21000000L).selectExpr(
          "lpad(CAST(id DIV 3 AS STRING), 9, '0') AS rowKey",
          "'f' AS family",
          "CASE id % 3 WHEN 0 THEN 'C0' WHEN 1 THEN 'C1' ELSE 'C2' END AS qualifier",
          "encode(CAST(id AS STRING), 'UTF-8') AS value", "id AS ts")
        time("21M cells / 7M keys pivot")(
          graft.ops.KvPivot.pivot(hi, Seq("C0", "C1", "C2")).count())
      case "scalededup" =>
        import org.apache.spark.sql.functions._
        // 100k docs over a 1024-word vocab (shingle space 2^30 — near-dups
        // rare): the sub-quadratic claim of MinHash-LSH banding under test.
        // 1% of docs are planted exact-prefix duplicates so some pairs exist.
        val words = "transform(sequence(1, 30), i -> concat('w', CAST(abs(xxhash64(id DIV 100 * 30 + i)) % 1024 AS STRING)))"
        val docs = spark.range(100000L).selectExpr(
          "id AS doc_id",
          s"array_join(CASE WHEN id % 100 < 2 THEN $words ELSE " +
            "transform(sequence(1, 30), i -> concat('w', CAST(abs(xxhash64(id * 30 + i)) % 1024 AS STRING))) END, ' ') AS text")
          .localCheckpoint()
        time("100k docs minhash LSH pairs")(
          println("  pairs = " + graft.ext.Dedup.minhashLshPairs(docs).count()))
        time("100k docs simhash pairs")(
          println("  pairs = " + graft.ext.Dedup.simhashPairs(docs).count()))
      case "scalestream" =>
        import org.apache.spark.sql.functions._
        // 1M synthetic events written to /tmp, run through the streaming
        // pivot (watermark + window + LWW state) at 10x the bench volume.
        val dir = s"${Tmp}/graft_scale_events"
        graft.sinks.Sinks.deleteRecursive(spark, dir)
        spark.range(1000000L).selectExpr(
            "id AS event_id",
            "CAST(1704067200000000000 + id * 2500000000 AS LONG) AS ts",
            "id % 15000 AS user_id",
            "element_at(array('click','error','purchase','signup','view'), CAST(id % 5 AS INT) + 1) AS event_type",
            "CAST(id % 100 AS DOUBLE) / 7 AS value", "'{}' AS props")
          .coalesce(4).write.mode("overwrite").parquet(dir)
        val cells = spark.readStream
          .schema(graft.kv.KvTable.EventsParquetSchema).parquet(dir)
          .select(graft.kv.KvTable.eventCellColumns :+
            expr("timestamp_micros(ts DIV 1000)").as("eventTime"): _*)
        val piv = graft.streaming.StreamingPivot.windowedPivot(cells, Queries.EventCols)
        time("1M events streaming pivot")(
          println("  rows = " + graft.streaming.StreamingPivot
            .runAvailableNow(piv, "scale_stream_out").count()))

      case "rocksdb" =>
        import org.apache.spark.sql.functions._
        // Deep-state streaming on the RocksDB state store provider — the
        // 100×-state path (per-task native memory + local disk, changelog
        // in the checkpoint) vs the default in-memory HDFSBackedStateStore.
        // Results must be IDENTICAL across providers; the rows printed
        // prove it. 1M-event windowed pivot (~1M state rows) and 500k-user
        // sessionization (500k state entries).
        val dir = s"${Tmp}/graft_rocksdb_events"
        graft.sinks.Sinks.deleteRecursive(spark, dir)
        spark.range(1000000L).selectExpr(
            "id AS event_id",
            "CAST(1704067200000000000 + id * 2500000000 AS LONG) AS ts",
            "id % 15000 AS user_id",
            "element_at(array('click','error','purchase','signup','view'), CAST(id % 5 AS INT) + 1) AS event_type",
            "CAST(id % 100 AS DOUBLE) / 7 AS value", "'{}' AS props")
          .coalesce(4).write.mode("overwrite").parquet(dir)
        def pivotDf = {
          val cells = spark.readStream
            .schema(graft.kv.KvTable.EventsParquetSchema).parquet(dir)
            .select(graft.kv.KvTable.eventCellColumns :+
              expr("timestamp_micros(ts DIV 1000)").as("eventTime"): _*)
          graft.streaming.StreamingPivot.windowedPivot(cells, Queries.EventCols)
        }
        val pivMem = time("1M-event pivot, default provider")(
          graft.streaming.StreamingPivot.runAvailableNow(pivotDf, "rdb_piv_mem").count())
        val pivRdb = time("1M-event pivot, RocksDB provider")(
          graft.streaming.StreamingPivot.runAvailableNow(pivotDf, "rdb_piv_rocks",
            stateStoreProvider = Some(graft.streaming.StreamingPivot.RocksDbProvider)).count())
        println(s"  pivot rows: mem=$pivMem rocksdb=$pivRdb equal=${pivMem == pivRdb}")
        val sdir = s"${Tmp}/graft_rocksdb_sessions"
        graft.sinks.Sinks.deleteRecursive(spark, sdir)
        spark.range(1000000L).selectExpr(
            "id % 500000 AS user_id", "id AS event_id",
            "CAST(1704067200000000000 + id * 1000000000 AS LONG) AS tsNanos")
          .coalesce(4).write.mode("overwrite").parquet(sdir)
        def sessDf = {
          import spark.implicits._
          val raw = spark.readStream
            .schema("user_id BIGINT, event_id BIGINT, tsNanos BIGINT")
            .parquet(sdir)
            .withColumn("eventTime", expr("timestamp_micros(tsNanos DIV 1000)"))
            .withWatermark("eventTime", "0 seconds")
            .as[graft.streaming.StreamingPivot.SessionEvent]
          graft.streaming.StreamingPivot.Sessionize(raw, gapNanos = 3600L * 1000000000L).toDF()
        }
        val sMem = time("500k-user sessionize, default provider")(
          graft.streaming.StreamingPivot.runAvailableNow(sessDf, "rdb_sess_mem",
            org.apache.spark.sql.streaming.OutputMode.Append()).count())
        val sRdb = time("500k-user sessionize, RocksDB provider")(
          graft.streaming.StreamingPivot.runAvailableNow(sessDf, "rdb_sess_rocks",
            org.apache.spark.sql.streaming.OutputMode.Append(),
            stateStoreProvider = Some(graft.streaming.StreamingPivot.RocksDbProvider)).count())
        println(s"  session rows: mem=$sMem rocksdb=$sRdb equal=${sMem == sRdb}")

      case "scalesalt" =>
        import org.apache.spark.sql.functions._
        // 10M rows, ONE key: the adversarial skew case for the asof carry
        // (unsalted = one task sorts everything) and the banded range join.
        val ev = spark.range(10000000L).selectExpr(
          "id AS event_id", "0L AS user_id",
          "abs(xxhash64(id)) % 1000000000000 AS tsNanos",
          "CAST(id % 7 AS DOUBLE) AS value").localCheckpoint()
        val l = ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("user_id"), col("tsNanos"))
        val r = ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("user_id"), col("tsNanos"), col("value"))
        def forceAsof(df: org.apache.spark.sql.DataFrame) =
          df.agg(sum(col("_asof.event_id"))).collect()(0).getLong(0)
        var h0 = 0L; var h1 = 0L
        time("asof 5Mx5M single key UNSALTED") {
          h0 = forceAsof(graft.ops.AsofJoin.asofBackward(l, r,
            Seq("user_id"), "tsNanos", "event_id", Seq("event_id", "value")))
        }
        time("asof 5Mx5M single key salted x32") {
          h1 = forceAsof(graft.ops.AsofJoin.asofBackwardSalted(l, r,
            Seq("user_id"), "tsNanos", "event_id", Seq("event_id", "value"), 32))
        }
        println(s"  checksums equal = ${h0 == h1} ($h0)")
        // Range-join skew is per (key, BUCKET) cell — spread timestamps
        // already act as a salt (measured: salting a spread case only adds
        // replication). The hot case: ONE key, times inside TWO bucket
        // widths, so the whole quadratic candidate set sits in 2 tasks
        // unsalted vs 64 salted.
        val ev2 = spark.range(40000L).selectExpr(
          "id AS event_id", "0L AS user_id",
          "abs(xxhash64(id)) % 200000 AS tsNanos").localCheckpoint()
        val le = ev2.filter(col("event_id") % 2 === 0)
          .select(col("event_id").as("l_id"), col("user_id"), col("tsNanos").as("lts"))
        val re2 = ev2.filter(col("event_id") % 2 === 1)
          .select(col("event_id").as("r_id"), col("user_id"), col("tsNanos").as("rts"))
        // broadcast would sidestep (key,bucket) skew entirely at this size;
        // force the shuffle join a 100-TB-scale large-large range join runs.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        def partStats(name: String, salt: Int): Long = {
          val df = graft.ops.RangeJoin.backwardWindowJoin(le, re2,
            Seq("user_id"), "lts", "rts", 100000L, salt)
          val sizes = df.rdd.mapPartitions(it => Iterator(it.size.toLong))
            .collect().sorted.reverse
          val total = sizes.sum
          println(f"  $name: total=$total%d busy_tasks=${sizes.count(_ > 0)}%d " +
            f"max_task_share=${sizes.head * 100.0 / math.max(total, 1)}%.1f%%")
          total
        }
        var c0 = 0L; var c1 = 0L
        time("range 20k x 20k in 2 hot cells UNSALTED") {
          c0 = partStats("unsalted", 1)
        }
        time("range 20k x 20k in 2 hot cells salted x32") {
          c1 = partStats("salted x32", 32)
        }
        println(s"  match counts equal = ${c0 == c1} ($c0)")
      case "scaleexact" =>
        import org.apache.spark.sql.functions._
        // 500k ~1KB docs, 10% exact dups: shuffle-byte evidence for the
        // 128-bit pre-hash dedup key vs the full-text window key.
        @volatile var shuffleBytes = 0L
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (te.taskMetrics != null)
              shuffleBytes += te.taskMetrics.shuffleWriteMetrics.bytesWritten
        })
        val d = spark.range(500000L).selectExpr(
          "id AS doc_id",
          "array_join(transform(sequence(1, 150), i -> concat('w', CAST(abs(xxhash64((CASE WHEN id % 10 = 0 THEN id + 1 ELSE id END) * 150 + i)) % 50000 AS STRING))), ' ') AS text")
          .localCheckpoint()
        def measure(name: String)(f: => Long): Unit = {
          shuffleBytes = 0L
          time(name)(println("  rows = " + f))
          Thread.sleep(2000) // listener events drain async
          println(f"  shuffle write = ${shuffleBytes / 1e6}%.1f MB")
        }
        val wTxt = org.apache.spark.sql.expressions.Window.partitionBy(col("text"))
        measure("full-text window dedup (old)")(
          d.select(col("doc_id"), min(col("doc_id")).over(wTxt).as("c"))
            .filter(col("doc_id") === col("c")).count())
        measure("128-bit hash-key dedup (new)")(
          graft.ext.Dedup.exact(d).filter(!col("is_dup")).count())
      case "scalejoin" =>
        import org.apache.spark.sql.functions._
        // 20M-row as-of join (10M left / 10M right over 100k keys) and a
        // banded range join at the same scale.
        val ev = spark.range(20000000L).selectExpr(
          "id AS event_id", "id DIV 2 % 100000 AS user_id",
          "abs(xxhash64(id)) % 1000000000000 AS tsNanos",
          "CAST(id % 7 AS DOUBLE) AS value").localCheckpoint()
        val l = ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("user_id"), col("tsNanos"))
        val r = ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("user_id"), col("tsNanos"), col("value"))
        val asofOut = graft.ops.AsofJoin.asofBackward(l, r,
          Seq("user_id"), "tsNanos", "event_id", Seq("event_id", "value"))
        time("asof 10M x 10M (100k keys)")(
          asofOut.agg(sum(col("_asof.event_id"))).collect())
        val le = l.select(col("event_id").as("l_id"), col("user_id"), col("tsNanos").as("lts"))
        val re2 = r.select(col("event_id").as("r_id"), col("user_id"), col("tsNanos").as("rts"))
        val rj = graft.ops.RangeJoin.backwardWindowJoin(le, re2,
          Seq("user_id"), "lts", "rts", window = 10000000000L)
        time("range join 10M x 10M (100k keys)")(
          println("  matches = " + rj.count()))
      case "scaleretention" =>
        import org.apache.spark.sql.functions._
        // Retention CDC at scale: a 20M-cell table (2M keys x 10
        // versions), TTL pass dropping half. Prices the three legs the
        // r17 design adds on top of the plain rewrite: the second
        // (negated-keep) read staging the drop records, the CDC span
        // read shipping them, and the consumer-side reconstruction
        // (baseline ∪ feed + broadcast anti join).
        val d = s"${sys.props("java.io.tmpdir")}/graft_scratch/retention20m"
        graft.sinks.Sinks.deleteRecursive(spark, d)
        val cells = spark.range(20000000L).selectExpr(
          "lpad(CAST(id % 2000000 AS STRING), 8, '0') AS rowKey",
          "'f' AS family", "'amt' AS qualifier",
          "encode(CAST(id AS STRING), 'UTF-8') AS value",
          "CAST(id DIV 2000000 AS BIGINT) AS ts")
        time("stage 20M cells (16 regions)")(
          cells.write.format("graft-kv").option("regions", 16)
            .mode("append").save(d))
        val res = time("TTL pass dropping 10M of 20M")(
          graft.sources.KvCompactor.compact(spark, d, regions = 16,
            cellPolicy = graft.sources.KvCompactor.CellPolicy(
              dropBelowTs = Some(5L))))
        println(s"[probe] $res")
        val feed = spark.read.format("graft-kv").option("sinceSeq", "0").load(d)
        time("CDC span read (10M drop records)")(
          println(s"[probe] feed rows: ${feed.count()}"))
        val baseline = spark.read.format("graft-kv")
          .option("asOfSeq", "0").load(d)
        time("consumer reconstruction (baseline ∪ feed, anti join)")(
          println(s"[probe] reconstructed rows: " +
            graft.sources.KvDelete.applyVersionMarkers(
              baseline.unionByName(feed), feed).count()))
      case "topnstale" =>
        import org.apache.spark.sql.functions._
        // Stale-tolerant index-served top-n at scale (r18): 8M-cell
        // table (8M distinct keys), covered decimal index, then 1,000
        // post-refresh updates + 200 deletes. Prices the three plans a
        // live-table inspection can take: the stale verified route
        // (over-fetch k+T, touched-key probe, pinned per-key
        // verification), the fresh index-only head after a refresh, and
        // the honest full pivot sort the r17 freshness wall always fell
        // back to.
        val d = s"${sys.props("java.io.tmpdir")}/graft_scratch/topnstale"
        graft.sinks.Sinks.deleteRecursive(spark, d)
        time("stage 8M cells (16 regions)")(
          spark.range(8000000L).selectExpr(
            "lpad(CAST(id AS STRING), 8, '0') AS rowKey",
            "'f' AS family", "'v' AS qualifier",
            "encode(CAST(id * 7 AS STRING), 'UTF-8') AS value",
            "id AS ts")
            .write.format("graft-kv").option("regions", 16)
            .mode("append").save(d))
        time("covered index build (pad 10)")(
          graft.sources.KvIndex.create(spark, d, "by_v", "f", "v",
            pad = 10, regions = 8, covered = true))
        time("post-refresh DML (1,000 updates + 200 deletes)") {
          spark.range(1000).selectExpr(
            "lpad(CAST(id * 7919 AS STRING), 8, '0') AS rowKey",
            "'f' AS family", "'v' AS qualifier",
            "encode(CAST(90000000 + id AS STRING), 'UTF-8') AS value",
            "9000000000L + id AS ts")
            .write.format("graft-kv").option("regions", 1)
            .mode("append").save(d)
          graft.sources.KvDelete.deleteRows(spark, d,
            spark.range(7999800L, 8000000L).selectExpr(
              "lpad(CAST(id AS STRING), 8, '0') AS rowKey"))
        }
        val staleTop = time("STALE top-100 (verified over-fetch)")(
          graft.sources.KvIndex.topNCovered(spark, d, "by_v", 100)
            .collect())
        println(s"[probe] stale top head: ${staleTop.head}")
        val pivotTop = time("full pivot sort top-100 (the r17 fallback)")(
          spark.read.format("graft-kv").load(d)
            .filter(col("family") === "f" && col("qualifier") === "v")
            .groupBy("rowKey")
            .agg(decode(graft.functions.MaxByTsAgg.maxByTs(
              col("value"), col("ts")), "UTF-8").as("value"))
            .orderBy(col("value").cast("long").desc, col("rowKey").desc)
            .limit(100).collect())
        require(staleTop.map(_.getString(0)).toSeq ==
          pivotTop.map(_.getString(0)).toSeq, "stale route != pivot sort")
        time("index refresh (absorb the DML)")(
          graft.sources.KvIndex.refresh(spark, d, "by_v"))
        time("FRESH top-100 (index-only head)")(
          graft.sources.KvIndex.topNCovered(spark, d, "by_v", 100)
            .collect())
      case "refreshprof" =>
        import org.apache.spark.sql.functions._
        // Stage-by-stage refresh profile over the topncomposite fixture
        // (run that case first): where do the seconds go when
        // refreshExactCovered absorbs a 1k-key DML at 16M cells?
        val d = s"${Tmp}/graft_scratch/topncomposite"
        time("DML (1000 new updates)") {
          spark.range(1000).selectExpr(
            "lpad(CAST(id * 7919 AS STRING), 8, '0') AS rowKey",
            "'f' AS family", "'a' AS qualifier",
            "encode(CAST(88800 + (id % 100) AS STRING), 'UTF-8') AS value",
            "9100000000L + id AS ts")
            .write.format("graft-kv").option("regions", 1)
            .mode("append").save(d)
        }
        val touched = spark.range(1000).selectExpr(
          "lpad(CAST(id * 7919 AS STRING), 8, '0') AS rowKey")
          .collect().map(_.getString(0)).toIndexedSeq
        def lww(q: String) = graft.functions.MaxByTsAgg.maxByTs(
          col("value"), when(col("qualifier") === q, col("ts")))
        def wideRestricted(): org.apache.spark.sql.DataFrame =
          spark.read.format("graft-kv").load(d)
            .filter(col("family") === "f" && col("qualifier").isin("a", "b"))
            .filter(col("rowKey").isin(touched: _*))
            .groupBy(col("rowKey")).agg(lww("a").as("_v0"), lww("b").as("_v1"))
        time("ONE wide scan restricted to 1k keys (In pushed)")(
          wideRestricted().count())
        time("same again (warm FS cache)")(wideRestricted().count())
        // the ACTUAL refresh frames: time-travel reads + feed probe + join
        val table = new org.apache.hadoop.fs.Path(d)
        val fsP = table.getFileSystem(spark.sessionState.newHadoopConf())
        val m = graft.sources.KvIndex.meta(fsP, table, "by_ab").get
        val latest = graft.sources.KvLog.latestSeq(fsP, table)
        println(s"[probe] span: (${m.asOfSeq}, $latest]")
        val feed = spark.read.format("graft-kv")
          .option("sinceSeq", m.asOfSeq.toString)
          .option("asOfSeq", latest.toString).load(d)
          .filter((col("family") === "f" && col("qualifier").isin("a", "b")) ||
            col("qualifier").startsWith(graft.sources.KvDelete.MarkerPrefix))
        time("feed touched probe (distinct+collect)")(
          feed.select(col("rowKey")).distinct().limit(5001).collect().length)
        def wideAt(seq: Long) =
          spark.read.format("graft-kv").option("asOfSeq", seq.toString).load(d)
            .filter(col("family") === "f" && col("qualifier").isin("a", "b"))
            .filter(col("rowKey").isin(touched: _*))
            .groupBy(col("rowKey")).agg(lww("a").as("_v0"), lww("b").as("_v1"))
        time("PRE frame (asOfSeq=span start)")(wideAt(m.asOfSeq).count())
        time("POST frame (asOfSeq=latest)")(wideAt(latest).count())
        val preR = wideAt(m.asOfSeq).select(col("rowKey"),
          col("_v0").as("_p0"), col("_v1").as("_p1"))
        time("full_outer join + collect")(
          preR.join(wideAt(latest), Seq("rowKey"), "full_outer").count())
        time("full KvIndex.refresh")(
          graft.sources.KvIndex.refresh(spark, d, "by_ab"))
      case "topncomposite" =>
        import org.apache.spark.sql.functions._
        // Composite index-served top-n at scale (r19): 8M keys each
        // carrying two decimal qualifiers; a bounded two-column
        // ORDER BY a, b LIMIT k prices the composite index head (fresh),
        // the stale verified route after DML, and the honest wide pivot
        // fallback — the encoded NUL-joined key makes the bounded range
        // one contiguous index prefix, so the fresh serve is O(k) while
        // the pivot pays the full 16M-cell groupBy + sort.
        val d = s"${Tmp}/graft_scratch/topncomposite"
        graft.sinks.Sinks.deleteRecursive(spark, d)
        time("stage 16M cells / 8M keys (16 regions)") {
          val a = spark.range(8000000L).selectExpr(
            "lpad(CAST(id AS STRING), 8, '0') AS rowKey",
            "'f' AS family", "'a' AS qualifier",
            "encode(CAST(id % 100000 AS STRING), 'UTF-8') AS value",
            "id AS ts")
          // b must be INDEPENDENT of a = id % 100000: any multiplicative
          // (id * m) % 100000 collapses to a function of a (m * 100000j
          // vanishes mod 100000) and the two-column range would select a
          // provably empty set — hash-mix instead
          val b = spark.range(8000000L).selectExpr(
            "lpad(CAST(id AS STRING), 8, '0') AS rowKey",
            "'f' AS family", "'b' AS qualifier",
            "encode(CAST(pmod(xxhash64(id), 100000) AS STRING), 'UTF-8') AS value",
            "id AS ts")
          a.unionAll(b).write.format("graft-kv").option("regions", 16)
            .mode("append").save(d)
        }
        time("composite index build (a:8, b:8)")(
          graft.sources.KvIndex.create(spark, d, "by_ab", "f", "a",
            pad = 8, regions = 8, rest = Seq(("b", 8))))
        val bounds = Seq((Some("99000"), Some("99500")),
          (Some("0"), Some("50000")))
        val freshTop = time("FRESH composite top-50 (index head)")(
          graft.sources.KvIndex.topNComposite(spark, d, "by_ab", 50,
            desc = true, bounds).collect())
        println(s"[probe] fresh rows: ${freshTop.length}, " +
          s"head: ${freshTop.headOption}")
        time("post-refresh DML (800 updates + 200 deletes)") {
          spark.range(800).selectExpr(
            "lpad(CAST(id * 9973 AS STRING), 8, '0') AS rowKey",
            "'f' AS family", "'a' AS qualifier",
            "encode(CAST(99400 + (id % 100) AS STRING), 'UTF-8') AS value",
            "9000000000L + id AS ts")
            .write.format("graft-kv").option("regions", 1)
            .mode("append").save(d)
          graft.sources.KvDelete.deleteRows(spark, d,
            spark.range(7999800L, 8000000L).selectExpr(
              "lpad(CAST(id AS STRING), 8, '0') AS rowKey"))
        }
        val staleTop = time("STALE composite top-50 (verified over-fetch)")(
          graft.sources.KvIndex.topNComposite(spark, d, "by_ab", 50,
            desc = true, bounds).collect())
        val pivotTop = time("full wide pivot sort top-50 (the fallback)")(
          spark.read.format("graft-kv").load(d)
            .filter(col("family") === "f" && col("qualifier").isin("a", "b"))
            .groupBy("rowKey")
            .agg(
              decode(graft.functions.MaxByTsAgg.maxByTs(col("value"),
                when(col("qualifier") === "a", col("ts"))), "UTF-8").as("a"),
              decode(graft.functions.MaxByTsAgg.maxByTs(col("value"),
                when(col("qualifier") === "b", col("ts"))), "UTF-8").as("b"))
            .filter(lpad(col("a"), 8, "0") >= "00099000" &&
              lpad(col("a"), 8, "0") < "00099500" &&
              lpad(col("b"), 8, "0") >= "00000000" &&
              lpad(col("b"), 8, "0") < "00050000")
            .orderBy(lpad(col("a"), 8, "0").desc, lpad(col("b"), 8, "0").desc,
              col("rowKey").desc)
            .limit(50).collect())
        require(staleTop.map(_.getString(0)).toSeq ==
          pivotTop.map(_.getString(0)).toSeq, "stale composite != pivot")
        time("index refresh (absorb the DML)")(
          graft.sources.KvIndex.refresh(spark, d, "by_ab"))
        time("FRESH again after refresh")(
          graft.sources.KvIndex.topNComposite(spark, d, "by_ab", 50,
            desc = true, bounds).collect())
      case "scaleversions" =>
        import org.apache.spark.sql.functions._
        // Versions-policy pass at 20M cells (2M keys x 10 versions,
        // keep 2): prices the r18 fused collapse+rank window (one
        // exchange) on the same table shape as `scaleretention`.
        val d = s"${sys.props("java.io.tmpdir")}/graft_scratch/versions20m"
        graft.sinks.Sinks.deleteRecursive(spark, d)
        val cells = spark.range(20000000L).selectExpr(
          "lpad(CAST(id % 2000000 AS STRING), 8, '0') AS rowKey",
          "'f' AS family", "'amt' AS qualifier",
          "encode(CAST(id AS STRING), 'UTF-8') AS value",
          "CAST(id DIV 2000000 AS BIGINT) AS ts")
        time("stage 20M cells (16 regions)")(
          cells.write.format("graft-kv").option("regions", 16)
            .mode("append").save(d))
        val res = time("versions pass keeping 2 of 10 (16M drops)")(
          graft.sources.KvCompactor.compact(spark, d, regions = 16,
            cellPolicy = graft.sources.KvCompactor.CellPolicy(
              maxVersions = Some(2))))
        println(s"[probe] $res")
        time("retained view count")(
          println(s"[probe] rows: " +
            spark.read.format("graft-kv").load(d).count()))
      case "scalebpe" =>
        import org.apache.spark.sql.functions._
        // BPE tokenization at production vocab scale: ~32k merges over
        // 1M docs (40 words each, 50k-word vocabulary). The claim under
        // test is the per-thread LRU memo's amortization
        // (functions/Bpe.scala Table.countWordMemo): the 64k-entry memo
        // holds the whole 50k-word working set, so steady-state cost is
        // one hash probe per word INSTANCE and the real greedy merge
        // runs only once per DISTINCT word per thread. The table is
        // constructed directly (letters -> pairs -> pair+letter units,
        // all pairs distinct) — training cost is a separate, already-
        // benched path; tokenization is what scales with corpus size.
        val letters = ('a' to 'z').map(_.toString)
        val l2 = for (a <- letters; b <- letters) yield (a, b)
        val l3 = for (ab <- l2.map { case (a, b) => a + b }; c <- letters)
          yield (ab, c)
        val l4 = for (a <- letters; bc <- l2.map { case (x, y) => x + y })
          yield (a, bc)
        val merges = (l2 ++ l3 ++ l4).take(32768)
        val table = graft.functions.Bpe.Table(merges.toIndexedSeq)
        println(s"[probe] merge table: ${merges.size} merges")
        def word(wid: String) = "array_join(transform(sequence(0, 7), k -> " +
          s"char(97 + CAST(abs(xxhash64($wid, k)) % 26 AS INT))), '')"
        val docs = spark.range(1000000L).selectExpr(
          "id AS doc_id",
          "array_join(transform(sequence(1, 40), i -> " +
            word("CAST(abs(xxhash64(id * 40 + i)) % 50000 AS BIGINT)") +
            "), ' ') AS text")
        val matDocs = docs.localCheckpoint()
        val distinctWords = spark.range(50000L)
          .selectExpr(s"${word("id")} AS text").localCheckpoint()
        // cold: every word tokenized for real, once
        time("50k distinct words (cold merges)")(
          distinctWords.select(graft.ext.TextAnalysis
            .bpeTokenCount(col("text"), table).as("n"))
            .agg(sum(col("n"))).collect())
        val total = time("1M docs x 40 words, 32k merges")(
          matDocs.select(graft.ext.TextAnalysis
            .bpeTokenCount(col("text"), table).as("n"))
            .agg(sum(col("n"))).collect().head.getLong(0))
        println(s"[probe] total tokens: $total")
      case "scaletxt" =>
        import org.apache.spark.sql.functions._
        // 500k synthetic docs through the single-pass text stack.
        val words = (0 until 64).map(i => s"w$i")
        val docs = spark.range(500000L).selectExpr(
          "id AS doc_id",
          s"array_join(transform(sequence(1, 40), i -> element_at(array(${words.map("'" + _ + "'").mkString(",")}), CAST(abs(xxhash64(id * 40 + i)) % 64 AS INT) + 1)), ' ') AS text",
          "'en' AS lang").localCheckpoint()
        time("500k docs quality+langid+fp")(
          graft.ext.TextAnalysis.quality(docs)
            .join(graft.ext.TextAnalysis.langId(docs), "doc_id")
            .join(graft.ext.TextAnalysis.fingerprints(docs), "doc_id")
            .agg(sum(col("quality")), sum(col("fp"))).collect())
      case "scaleann" =>
        // 1M synthetic 64-dim embeddings through the full IVF path (assign
        // all 1M to cells, probe, rescore) — similarity-path throughput.
        val emb = spark.range(1000000L).selectExpr(
          "id AS vec_id",
          "transform(sequence(1, 64), i -> CAST((xxhash64(id * 64 + i) % 1000) / 1000.0 AS FLOAT)) AS embedding")
          .localCheckpoint()
        time("1M vec IVF top-5 (10 queries)")(
          graft.ext.Similarity.ivfTopK(emb, v => v % 100000 === 0).count())
        time("1M vec LSH bucket index")(
          graft.ext.Similarity.bucketedIndex(
            graft.ext.Similarity.index(emb)).count())
      case "sweep" =>
        // Recall/cost operating-point sweep for the two ANN paths: pair
        // overlap vs the exact brute-force top-5 (rank-insensitive), time =
        // median of 3 warm runs. Backs the BASELINE.md table that justifies
        // the NProbe / tables / bits defaults.
        import org.apache.spark.sql.functions.col
        val emb = graft.kv.KvTable.table(spark, sfDir, "embeddings")
        val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = v => v % 50 === 0
        val brute = graft.ext.Similarity.bruteTopK(emb, isQ)
          .select(col("q"), col("nb")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        def sweepOne(name: String, df: => org.apache.spark.sql.DataFrame): Unit = {
          val got = df.select(col("q"), col("nb")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
          }.sorted
          println(f"[sweep] $name%-22s recall@5 ${(brute & got).size.toDouble / brute.size}%.3f  ${ts(1)}%6.2f s  (cand pairs ${got.size})")
        }
        for (np <- Seq(4, 8, 12, 16, 24))
          sweepOne(s"ivf nprobe=$np",
            graft.ext.Similarity.ivfTopK(emb, isQ, nProbe = np))
        for (tables <- Seq(3, 5, 8); bits <- Seq(4, 6, 8))
          sweepOne(s"lsh L=$tables bits=$bits",
            graft.ext.Similarity.lshTopK(emb, isQ, tables = tables, bits = bits))
      case "sweep1m" =>
        // The same sweep at 1M synthetic vectors, where the scan/candidate
        // fraction dominates runtime — the axis the sf0.1 sweep can't see.
        import org.apache.spark.sql.functions.col
        val emb = spark.range(0, 1000000).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), i -> CAST((xxhash64(id * 64 + i) % 1000) / 1000.0 AS FLOAT)) AS embedding")
          .localCheckpoint() // materialize: generation cost must not be timed
        val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = v => v % 100000 === 0
        val bruteDf = graft.ext.Similarity.bruteTopK(emb, isQ)
        val tb0 = System.nanoTime(); bruteDf.count()
        println(f"[sweep1m] brute                  recall@5 1.000  ${(System.nanoTime() - tb0) / 1e9}%6.2f s")
        val brute = bruteDf
          .select(col("q"), col("nb")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        def sweep1(name: String, df: => org.apache.spark.sql.DataFrame): Unit = {
          val got = df.select(col("q"), col("nb")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
          }.sorted
          println(f"[sweep1m] $name%-22s recall@5 ${(brute & got).size.toDouble / brute.size}%.3f  ${ts.head}%6.2f s")
        }
        for (np <- Seq(8, 12, 16, 24))
          sweep1(s"ivf nprobe=$np",
            graft.ext.Similarity.ivfTopK(emb, isQ, nProbe = np))
        for ((tables, bits) <- Seq((5, 6), (3, 8), (5, 8), (8, 8), (8, 10)))
          sweep1(s"lsh L=$tables bits=$bits",
            graft.ext.Similarity.lshTopK(emb, isQ, tables = tables, bits = bits))

      case "autobits" =>
        // Candidate-set growth vs corpus size: fixed 6-bit buckets grow
        // linearly with the corpus (the scan fraction the small-SF sweep
        // can't see); autoBits holds expected occupancy ~TargetBucket so
        // the candidate set stays flat. Candidates counted as the deduped
        // (q, nb) relation the rescoring join actually processes.
        import org.apache.spark.sql.functions.col
        for (n <- Seq(100000L, 400000L, 1000000L)) {
          val emb = spark.range(0, n).selectExpr("id AS vec_id",
            "transform(sequence(1, 64), i -> CAST((xxhash64(id * 64 + i) % 1000) / 1000.0 AS FLOAT)) AS embedding")
            .localCheckpoint()
          val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
            v => v % (n / 10) === 0
          val auto = graft.ext.Similarity.autoBits(n)
          for ((nm, bits) <- Seq(("fixed6", 6), (s"auto$auto", auto))) {
            val idx = graft.ext.Similarity.index(emb)
            val corpus = graft.ext.Similarity.bucketedIndex(idx, tables = 5, bits = bits)
            val qs = corpus.filter(isQ(col("vec_id")))
              .select(col("vec_id").as("q"), col("t"), col("bucket"))
            val cands = corpus.as("c").join(qs.as("x"),
                col("x.t") === col("c.t") && col("x.bucket") === col("c.bucket") &&
                  col("c.vec_id") =!= col("x.q"))
              .select(col("x.q"), col("c.vec_id")).distinct().count()
            println(f"[autobits] n=$n%8d $nm%-7s candidates/query ${cands / 10}%8d")
          }
        }
      case "scalebkt" =>
        import org.apache.spark.sql.functions._
        // 20M-row fact joined to a 2M-row dim on a shared key, twice: once
        // as plain parquet (shuffle join), once with both sides bucketed on
        // the key (zero-exchange merge join). The delta is the recurring
        // per-query cost the one-time bucketing pays off.
        val factDf = spark.range(20000000L).selectExpr(
          "abs(xxhash64(id)) % 2000000 AS k", "id AS payload")
        val dimDf = spark.range(2000000L).selectExpr(
          "id AS k", "id % 97 AS attr")
        val base = s"${sys.props("java.io.tmpdir")}/graft_export/scalebkt"
        graft.sinks.Sinks.deleteRecursive(spark, base)
        factDf.write.parquet(s"$base/fact_plain")
        dimDf.write.parquet(s"$base/dim_plain")
        for (t <- Seq("sb_fact", "sb_dim")) spark.sql(s"DROP TABLE IF EXISTS $t")
        factDf.repartition(32, col("k")).write.format("parquet")
          .bucketBy(32, "k").sortBy("k").option("path", s"$base/fact_b")
          .saveAsTable("sb_fact")
        dimDf.repartition(32, col("k")).write.format("parquet")
          .bucketBy(32, "k").sortBy("k").option("path", s"$base/dim_b")
          .saveAsTable("sb_dim")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        def agg(f: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
          f.join(d.hint("merge"), "k").groupBy(col("k"))
            .agg(count(lit(1)), sum(col("payload") + col("attr"))).count()
        for (i <- 1 to 2) {
          time(s"shuffle join 20M x 2M #$i")(
            agg(spark.read.parquet(s"$base/fact_plain"),
              spark.read.parquet(s"$base/dim_plain")))
          time(s"bucketed join 20M x 2M #$i")(
            agg(spark.table("sb_fact"), spark.table("sb_dim")))
        }
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      case "scalerr" =>
        import org.apache.spark.sql.functions._
        // 1M x 64-dim: exact brute vs pure-int8 vs int8+rerank-50 — recall
        // of each approximate ranking against the exact top-5.
        val remb = spark.range(1000000L).selectExpr(
          "id AS vec_id",
          "transform(sequence(1, 64), i -> CAST((xxhash64(id * 64 + i) % 1000) / 1000.0 AS FLOAT)) AS embedding")
          .localCheckpoint()
        val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
          v => v % 100000 === 0
        def pairs(df: org.apache.spark.sql.DataFrame) =
          df.select("q", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val exact = time("1M exact brute top-5")(
          pairs(graft.ext.Similarity.bruteTopK(remb, isQ)))
        val quant = time("1M pure int8 top-5")(
          pairs(graft.ext.Similarity.quantTopK(remb, isQ)))
        val rr = time("1M int8 + rerank-50 top-5")(
          pairs(graft.ext.Similarity.quantRerankTopK(remb, isQ)))
        println(f"  recall@5 pure-int8 ${quant.intersect(exact).size / exact.size.toDouble}%.2f" +
          f", rerank-50 ${rr.intersect(exact).size / exact.size.toDouble}%.2f")
      case "scalezo" =>
        import org.apache.spark.sql.functions._
        // 20M rows, two filter axes: single-column sort vs z-order layout.
        // The same two-axis predicate over both; pruning shows as scan time.
        val zrows = spark.range(20000000L).selectExpr(
          "abs(xxhash64(id)) % 100000 AS u",
          "abs(xxhash64(id + 1)) % 50000 AS v",
          "id AS payload")
        val base = s"${sys.props("java.io.tmpdir")}/graft_export/scalezo"
        graft.sinks.Sinks.deleteRecursive(spark, base)
        zrows.repartitionByRange(32, col("u")).sortWithinPartitions("u")
          .write.parquet(s"$base/by_u")
        zrows.withColumn("zv",
            graft.functions.ZOrderInterleave.zOrder(col("u"), col("v")))
          .repartitionByRange(32, col("zv")).sortWithinPartitions("zv")
          .drop("zv").write.parquet(s"$base/by_z")
        // rows EMITTED BY THE SCAN (after parquet row-group/page skipping,
        // before the exact filter) — the direct measure of what the layout
        // pruned; wall-clock at this size is page-cache noise.
        def scanRows(path: String, pred: org.apache.spark.sql.Column): Long = {
          // AQE's wrapper hides the scan leaves from collectLeaves — probe
          // with it off so the FileSourceScan metric is reachable
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          try {
            val agg = spark.read.parquet(path).filter(pred)
              .agg(count(lit(1)), sum(col("payload")))
            agg.collect()
            agg.queryExecution.executedPlan.collectLeaves()
              .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
          } finally spark.conf.unset("spark.sql.adaptive.enabled")
        }
        val twoAxis = col("u") < 1000 && col("v") >= 45000
        val vOnly = col("v") >= 49900
        println("  scan-emitted rows of 20M (row-group skipping):")
        println(f"    two-axis: u-sorted ${scanRows(s"$base/by_u", twoAxis)}%,d" +
          f" vs z-laid ${scanRows(s"$base/by_z", twoAxis)}%,d")
        println(f"    v-only:   u-sorted ${scanRows(s"$base/by_u", vOnly)}%,d" +
          f" vs z-laid ${scanRows(s"$base/by_z", vOnly)}%,d")
      case "scalecc" =>
        import org.apache.spark.sql.functions._
        // 10M random edges over 5M nodes — 10x past the 2^20 driver ceiling:
        // the distributed large/small-star path vs the driver union-find on
        // identical input, label-identical results required.
        val nNodes = 5000000L
        val docs = spark.range(nNodes).selectExpr("id AS doc_id").localCheckpoint()
        val pairs = spark.range(10000000L).selectExpr(
          s"abs(xxhash64(id)) % $nNodes AS a",
          s"abs(xxhash64(id + 99991)) % $nNodes AS b")
          .filter(col("a") =!= col("b")).localCheckpoint()
        println(s"  edges = ${pairs.count()}")
        var dist: org.apache.spark.sql.DataFrame = null
        time("clusters DISTRIBUTED star-contraction") {
          dist = graft.ext.Dedup.clusters(docs, pairs, maxRounds = 30,
            driverMaxEdges = 0L).localCheckpoint()
          println(s"  rounds = ${graft.ext.Dedup.lastDistributedRounds}, " +
            s"components = ${dist.select(countDistinct(col("cluster_id"))).collect()(0).getLong(0)}")
        }
        var drv: org.apache.spark.sql.DataFrame = null
        time("clusters DRIVER union-find") {
          drv = graft.ext.Dedup.clusters(docs, pairs,
            driverMaxEdges = Long.MaxValue).localCheckpoint()
          println(s"  components = ${drv.select(countDistinct(col("cluster_id"))).collect()(0).getLong(0)}")
        }
        time("label equality check") {
          val diff = dist.except(drv).count() + drv.except(dist).count()
          println(s"  differing labels = $diff")
          require(diff == 0, "distributed and driver clusterings disagree")
        }
      case "kvtail" =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        // Admission-control scaling of the WAL tail: replay N sealed
        // segments under different maxFilesPerBatch caps. The stateless
        // tail's cost model is (#batches × per-batch floor) + scan; the cap
        // trades catch-up latency against per-batch work — at 100 TB the
        // floor is task scheduling + offset commit, constant per batch.
        val nSeg = 64
        val dir = s"${sys.props("java.io.tmpdir")}/graft_scratch/kvtail_wal"
        graft.sinks.Sinks.deleteRecursive(spark, dir)
        val cells = graft.kv.KvTable.eventsAsCells(spark, sfDir)
        val tmp = dir + "_chunks"
        cells.repartitionByRange(nSeg, col("ts")).write.mode("overwrite").parquet(tmp)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        new java.io.File(tmp).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
            java.nio.file.Files.move(f.toPath,
              java.nio.file.Paths.get(dir, f"part-$i%05d.parquet")): Unit
          }
        graft.sinks.Sinks.deleteRecursive(spark, tmp)
        // A/B the two admission modes over the SAME segment set: legacy
        // directory-listing (O(all segments) listStatus per batch) vs the
        // manifest log (one entry per commit; O(new commits) probes, zero
        // listings in steady state). Log mode stages the same 64 files as
        // 64 single-file log entries — the shape a long-lived streaming
        // sink leaves behind. At 64 local segments the listing is cheap, so
        // parity here + the counting-FS spec (KvStreamSpec pins 0 listStatus
        // and O(new commits) probes in log mode) is the scale evidence; the
        // listing cost curve is what grows with table age, not batch count.
        val logDir = dir + "_logged"
        graft.sinks.Sinks.deleteRecursive(spark, logDir)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logDir))
        val fs = new org.apache.hadoop.fs.Path(logDir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
          .sortBy(_.getName).foreach { f =>
            java.nio.file.Files.copy(f.toPath,
              java.nio.file.Paths.get(logDir, f.getName)): Unit
            graft.sources.KvLog.append(fs,
              new org.apache.hadoop.fs.Path(logDir), adds = Seq(f.getName)): Unit
          }
        Seq("listing" -> dir, "log" -> logDir).foreach { case (mode, d) =>
          Seq(1, 8, 64).foreach { cap =>
            val q = spark.readStream.format("graft-kv")
              .option("maxFilesPerBatch", cap).load(d)
              .groupBy(col("qualifier")).count()
              .writeStream.format("memory").queryName(s"kvtail_${mode}_$cap")
              .outputMode("complete").trigger(Trigger.AvailableNow()).start()
            time(s"tail $nSeg segments, $mode mode, maxFilesPerBatch=$cap")(
              q.awaitTermination())
            val batches = q.recentProgress.filter(_.numInputRows > 0)
            println(s"  data batches = ${batches.length}, " +
              s"rows = ${batches.map(_.numInputRows).sum}")
          }
        }
      case "kvtailq" =>
        // The ACTUAL stream_kv_tail pipeline (6 WAL segments, cap 2, LWW
        // pivot, complete mode), profiled per batch: recentProgress's
        // durationMs decomposes each micro-batch into admission
        // (latestOffset), planning+exec (addBatch), and the offset/commit
        // log writes — attributing the bench number to the per-batch floor
        // vs the admission path.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        import graft.ops.KvPivot
        val cells0 = graft.kv.KvTable.eventsAsCells(spark, sfDir)
        val dir = s"${sys.props("java.io.tmpdir")}/graft_scratch/kvtailq_wal"
        graft.sinks.Sinks.deleteRecursive(spark, dir)
        val tmp = dir + "_chunks"
        cells0.repartitionByRange(6, col("ts")).write.mode("overwrite").parquet(tmp)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        new java.io.File(tmp).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
            java.nio.file.Files.move(f.toPath,
              java.nio.file.Paths.get(dir, f"part-$i%05d.parquet")): Unit
          }
        graft.sinks.Sinks.deleteRecursive(spark, tmp)
        val cols = cells0.select("qualifier").distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        for (rep <- 1 to 5) {
          val cellsS = spark.readStream.format("graft-kv")
            .option("family", "f").option("maxFilesPerBatch", 2).load(dir)
          val piv = KvPivot.pivot(cellsS, cols)
          val q = piv
            .select(col("rowKey") +: cols.map(c => decode(col(c), "UTF-8").as(c)): _*)
            .writeStream.format("memory").queryName(s"kvtailq_$rep")
            .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          time(s"rep $rep: stream_kv_tail replay")(q.awaitTermination())
          q.recentProgress.foreach { p =>
            val d = p.durationMs
            println(f"  batch ${p.batchId}%2d rows=${p.numInputRows}%6d " +
              s"triggerExec=${d.get("triggerExecution")} addBatch=${d.get("addBatch")} " +
              s"latestOffset=${d.get("latestOffset")} getBatch=${d.get("getBatch")} " +
              s"queryPlanning=${d.get("queryPlanning")} walCommit=${d.get("walCommit")} " +
              s"commitOffsets=${d.get("commitOffsets")}")
          }
        }

      case "maint" =>
        // Maintenance amortization A/B: a 32-commit pile-up (the
        // months-of-memstore-flushes shape — 64 segment files) vs the same
        // table after ONE KvMaintenance pass. Measures what the policy
        // buys every later scan (fewer file opens, range-sorted layout)
        // and what the pass itself costs — the trade a scheduler weighs.
        import org.apache.spark.sql.functions._
        val dir = s"${sys.props("java.io.tmpdir")}/graft_scratch/maint_pile"
        graft.sinks.Sinks.deleteRecursive(spark, dir)
        val cells = graft.kv.KvTable.eventsAsCells(spark, sfDir)
        time("stage: 32 batch commits x 2 regions") {
          (0 until 32).foreach { i =>
            cells.filter(pmod(col("ts"), lit(32)) === i)
              .write.format("graft-kv").option("regions", 2)
              .mode("append").save(dir)
          }
        }
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        def liveCount = graft.sources.KvLog.liveFiles(fs,
          new org.apache.hadoop.fs.Path(dir)).size
        def scan() = spark.read.format("graft-kv").load(dir)
          .agg(count(lit(1)), sum(length(col("value")))).collect()(0)
        println(s"  pile-up live segments = $liveCount")
        for (i <- 1 to 3) time(s"scan pile-up #$i")(scan())
        val policy = graft.sources.KvMaintenance.Policy(
          maxSegments = 8, targetRegionBytes = 16L * 1024 * 1024)
        val res = time("maintenance pass (compact + vacuum)")(
          graft.sources.KvMaintenance.maintain(spark, dir, policy))
        println(s"  $res")
        println(s"  maintained live segments = $liveCount")
        for (i <- 1 to 3) time(s"scan maintained #$i")(scan())
        // steady state: the next pass parks and costs (nearly) nothing
        time("idle maintenance pass (parked)")(
          graft.sources.KvMaintenance.maintain(spark, dir, policy))

      case "maintwa" =>
        // Write-amplification A/B for the compaction SELECTION policy: a
        // streaming sink seals one small segment per epoch, maintenance
        // runs after EVERY epoch (the task-7 hook cadence). Major mode
        // rewrites the whole live set every time the threshold trips —
        // O(table) bytes per pass; size-tiered minor mode merges one
        // similar-size cohort — O(tier). The metric that matters at
        // 100 TB: total bytes REWRITTEN across the run vs bytes APPENDED
        // (write amplification), and the worst single pass (the latency
        // spike a production trigger schedule must absorb).
        import org.apache.spark.sql.functions._
        // Longer runs widen the gap: major's amplification grows linearly
        // with pass count (each pass rewrites the WHOLE accumulated
        // table), minor's stays at the tier ladder's log factor.
        val epochs = sys.env.get("GRAFT_WA_EPOCHS").map(_.toInt).getOrElse(64)
        val cells = graft.kv.KvTable.eventsAsCells(spark, sfDir).localCheckpoint()
        for (mode <- Seq("major", "minor")) {
          val dir = s"${sys.props("java.io.tmpdir")}/graft_scratch/maintwa_$mode"
          graft.sinks.Sinks.deleteRecursive(spark, dir)
          val table = new org.apache.hadoop.fs.Path(dir)
          val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
          val policy = graft.sources.KvMaintenance.Policy(
            maxSegments = 8, targetRegionBytes = 64L * 1024 * 1024,
            vacuumGraceMs = 0, majorCompact = mode == "major")
          var appended = 0L; var rewritten = 0L; var worstPass = 0L
          var passes = 0; var maxLive = 0
          time(s"$mode: $epochs epochs, maintain after each") {
            (0 until epochs).foreach { i =>
              cells.filter(pmod(col("ts"), lit(epochs)) === i)
                .write.format("graft-kv").option("regions", 1)
                .mode("append").save(dir)
              val sizes = graft.sources.KvLog.liveFiles(fs, table)
                .map(f => f -> fs.getFileStatus(
                  new org.apache.hadoop.fs.Path(table, f)).getLen).toMap
              appended += graft.sources.KvLog
                .read(fs, table, graft.sources.KvLog.latestSeq(fs, table))
                .get.adds.map(sizes).sum
              maxLive = math.max(maxLive, sizes.size)
              graft.sources.KvMaintenance.maintain(spark, dir, policy)
                .compaction match {
                case graft.sources.KvCompactor.Compacted(seq, _, _, _) =>
                  val passBytes = graft.sources.KvLog.read(fs, table, seq)
                    .get.removes.map(sizes).sum
                  rewritten += passBytes
                  worstPass = math.max(worstPass, passBytes)
                  passes += 1
                case _ => ()
              }
            }
          }
          val live = graft.sources.KvLog.liveFiles(fs, table).size
          println(f"  $mode%-5s appended=${appended / 1024}%dK rewritten=${rewritten / 1024}%dK " +
            f"amplification=${rewritten.toDouble / appended}%.1fx passes=$passes " +
            f"worstPass=${worstPass / 1024}%dK maxLiveSegments=$maxLive finalLive=$live")
          // correctness backstop: the maintained table still equals the input
          val n = spark.read.format("graft-kv").load(dir).count()
          println(s"  $mode scan rows = $n (expect ${cells.count()})")
        }

      case "epochshuffle" =>
        // Epoch shuffle at 10M keys (2000× the bench corpus): one hash
        // exchange + per-shard sort, shard balance, and the cost of a
        // second epoch (independent permutation, same price). The claim
        // under test: NO global single-point sort anywhere, shards stay
        // balanced enough that the widest shard bounds the stage.
        import org.apache.spark.sql.functions._
        val n = 10000000L
        val ids = spark.range(n).selectExpr("id AS doc_id")
        for (epoch <- 3 to 4) {
          val out = graft.ext.Sampling.epochShuffle(ids, "doc_id", epoch, nShards = 64)
          val stats = time(s"epoch $epoch shuffle of ${n / 1000000}M keys (64 shards)")(
            out.groupBy("shard").count()
              .agg(min("count"), max("count"), count(lit(1))).collect()(0))
          println(s"  shards=${stats.getLong(2)} " +
            s"min=${stats.getLong(0)} max=${stats.getLong(1)} " +
            f"skew=${stats.getLong(1).toDouble / stats.getLong(0)}%.3f")
        }
        val plan = graft.ext.Sampling.epochShuffle(ids, "doc_id", 3, 64)
          .queryExecution.executedPlan.toString
        println(s"  SinglePartition in plan: ${plan.contains("SinglePartition")}")

      case "kvlimit" =>
        // Limit/top-n pushdown payoff on a many-segment table: LIMIT 20
        // and ORDER BY rowKey LIMIT 20 against 64 sealed segments —
        // task counts and wall-clock vs the same queries pre-pushdown
        // (which scheduled all 64 segments and read them fully).
        import org.apache.spark.sql.functions._
        val dir = s"${sys.props("java.io.tmpdir")}/graft_scratch/kvlimit_wal"
        graft.sinks.Sinks.deleteRecursive(spark, dir)
        val cells = graft.kv.KvTable.eventsAsCells(spark, sfDir)
        (0 until 16).foreach { i =>
          cells.filter(pmod(col("ts"), lit(16)) === i)
            .write.format("graft-kv").option("regions", 4)
            .mode("append").save(dir)
        }
        val t = spark.read.format("graft-kv").load(dir)
        val lim = t.limit(20)
        time("LIMIT 20 over 64 segments")(lim.collect())
        println(s"  tasks = ${lim.rdd.getNumPartitions} (was 64 pre-pushdown)")
        val top = t.orderBy("rowKey").limit(20)
        time("ORDER BY rowKey LIMIT 20")(top.collect())
        println("  plan: " + top.queryExecution.executedPlan.toString
          .linesIterator.find(_.contains("GraftKvScan")).map(_.trim.take(160)).getOrElse("?"))
        // the DESC mirror ("newest keys"): tail reader, O(n) rows per task
        val desc = t.orderBy(col("rowKey").desc).limit(20)
        time("ORDER BY rowKey DESC LIMIT 20")(desc.collect())
        println("  plan: " + desc.queryExecution.executedPlan.toString
          .linesIterator.find(_.contains("GraftKvScan")).map(_.trim.take(160)).getOrElse("?"))
        val full = t
        time("full scan count (reference)")(full.count(): Unit)

      case "kvbloom" =>
        // Manifest-bloom payoff on an epoch pile: 64 sealed epochs of
        // 20k keys each, every epoch spanning the whole keyspace (keys
        // interleave by suffix), so min/max range pruning keeps ALL 64
        // for a point lookup — only the bloom can prune. Also times the
        // snapshot create/restore cycle on the same table (pure metadata,
        // should be ms-scale regardless of data volume).
        import org.apache.spark.sql.functions._
        val dir = s"${sys.props("java.io.tmpdir")}/graft_scratch/kvbloom"
        graft.sinks.Sinks.deleteRecursive(spark, dir)
        val epochs = 64
        val keysPer = 20000
        time(s"build $epochs-epoch pile (${epochs * keysPer / 1000}k keys)") {
          (0 until epochs).foreach { e =>
            spark.range(keysPer).select(
              format_string("%05d-e%02d", col("id"), lit(e)).as("rowKey"),
              lit("f").as("family"), lit("q").as("qualifier"),
              encode(col("id").cast("string"), "UTF-8").as("value"),
              (col("id") + e.toLong * keysPer).as("ts"))
              .write.format("graft-kv").option("regions", 1)
              .mode("append").save(dir)
          }
        }
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val stats = graft.sources.KvLog.liveFileStats(
          fs, new org.apache.hadoop.fs.Path(dir))
        val probeKey = "12345-e37"
        val rangeOnly = stats.values.count(s =>
          s.minKey.exists(_ <= probeKey) && s.maxKey.exists(_ >= probeKey))
        println(s"  segments=${stats.size} withBloom=${stats.values.count(_.bloom.isDefined)} " +
          s"rangeOnlyWouldKeep=$rangeOnly")
        val t = spark.read.format("graft-kv").load(dir)
        val get = t.filter(col("rowKey") === probeKey)
        time("point lookup (bloom-pruned)")(get.collect(): Unit)
        println("  plan: " + get.queryExecution.executedPlan.toString
          .linesIterator.find(_.contains("GraftKvScan"))
          .flatMap("regions=\\d+/\\d+".r.findFirstIn(_)).getOrElse("?"))
        val keys = (0 until 10).map(i => f"${i * 1111}%05d-e${(i * 7) % epochs}%02d")
        val multi = t.filter(col("rowKey").isin(keys: _*))
        time("multi-get IN(10)")(multi.collect(): Unit)
        println("  plan: " + multi.queryExecution.executedPlan.toString
          .linesIterator.find(_.contains("GraftKvScan"))
          .flatMap("regions=\\d+/\\d+".r.findFirstIn(_)).getOrElse("?"))
        time("snapshot create (64 segments)")(
          graft.sources.KvSnapshot.create(spark, dir, "probe"): Unit)
        spark.range(1000).select(
          format_string("%05d-junk", col("id")).as("rowKey"),
          lit("f").as("family"), lit("q").as("qualifier"),
          encode(col("id").cast("string"), "UTF-8").as("value"),
          col("id").as("ts"))
          .write.format("graft-kv").option("regions", 1)
          .mode("append").save(dir)
        time("snapshot restore")(
          graft.sources.KvSnapshot.restore(spark, dir, "probe"): Unit)

      case "kvsalt" =>
        // Salted-layout payoff on a compacted table: a narrow LOGICAL key
        // range on the unsalted layout lives in few contiguous regions
        // (few tasks — the rest of the cluster idles), while the salted
        // layout spreads the same rows over every region's salt slice
        // (full parallelism, same bytes). Also checks the point Get stays
        // a 1-file plan on the salted table: compacted region bounds are
        // stored-contiguous, so the rewritten single stored key range-
        // prunes without a bloom.
        import org.apache.spark.sql.functions._
        val n = 4000000L
        val regions = 32
        val base = spark.range(n).select(
          format_string("%07d", col("id")).as("rowKey"),
          lit("f").as("family"), lit("q").as("qualifier"),
          encode(col("id").cast("string"), "UTF-8").as("value"),
          col("id").as("ts"))
        val plainDir = s"${sys.props("java.io.tmpdir")}/graft_scratch/kvsalt_plain"
        val saltDir = s"${sys.props("java.io.tmpdir")}/graft_scratch/kvsalt_salted"
        Seq(plainDir, saltDir).foreach(graft.sinks.Sinks.deleteRecursive(spark, _))
        time(s"write unsalted (${n / 1000000}M keys, $regions regions)") {
          base.write.format("graft-kv").option("regions", regions)
            .mode("overwrite").save(plainDir)
        }
        time("write salted (16 buckets)") {
          graft.sources.KvSalt.salted(base, 16)
            .write.format("graft-kv").option("regions", regions)
            .mode("overwrite").save(saltDir)
        }
        val plainT = spark.read.format("graft-kv").load(plainDir)
        val saltT = spark.read.format("graft-kv")
          .option("saltBuckets", 16).load(saltDir)
        val rangeP = col("rowKey") >= "1000000" && col("rowKey") < "2000000"
        def scan(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
          val q = df.filter(rangeP)
            .agg(count(lit(1)).as("n"), bit_xor(xxhash64(col("rowKey"))).as("x"))
          // partitions of the underlying scan, pre-agg
          val parts = df.filter(rangeP).rdd.getNumPartitions
          val r = time(s"range scan 1M keys ($label, $parts tasks)")(q.collect())
          println(s"  rows=${r(0).getLong(0)} digest=${r(0).getLong(1)}")
        }
        scan(plainT, "unsalted")
        scan(saltT, "salted")
        def get(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
          val g = df.filter(col("rowKey") === "1234567")
          time(s"point Get ($label)")(g.collect(): Unit)
          println("  plan: " + g.queryExecution.executedPlan.toString
            .linesIterator.find(_.contains("GraftKvScan"))
            .flatMap("regions=\\d+/\\d+".r.findFirstIn(_)).getOrElse("?"))
        }
        get(plainT, "unsalted")
        get(saltT, "salted")

      case "kvsplit" =>
        // Intra-region scan parallelism: a monolith region file is one
        // task however large; splitRegionBytes fans its row groups over
        // byte-range partitions. Parallelism is bounded by row-group
        // count (the midpoint rule can't cut a group), so the monolith is
        // staged with 8MB groups — the shape of a real multi-GB region
        // with default 128MB groups.
        import org.apache.spark.sql.functions._
        val dir = s"${sys.props("java.io.tmpdir")}/graft_scratch/kvsplit"
        graft.sinks.Sinks.deleteRecursive(spark, dir)
        val rows = 8000000L
        time(s"stage monolith (${rows / 1000000}M cells, 1 file, 8MB groups)") {
          spark.range(rows).select(
            format_string("%08d", col("id")).as("rowKey"),
            lit("f").as("family"), lit("q").as("qualifier"),
            encode(repeat(col("id").cast("string"), 4), "UTF-8").as("value"),
            col("id").as("ts"))
            .orderBy("rowKey").coalesce(1)
            .write.option("parquet.block.size", 8 * 1024 * 1024)
            .mode("overwrite").parquet(dir)
        }
        def agg(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
          val parts = df.rdd.getNumPartitions
          val q = df.agg(count(lit(1)).as("n"),
            bit_xor(xxhash64(col("rowKey"), col("ts"))).as("x"))
          val r = time(s"full agg ($label, $parts tasks)")(q.collect())
          println(s"  rows=${r(0).getLong(0)} digest=${r(0).getLong(1)}")
        }
        agg(spark.read.format("graft-kv").load(dir), "whole-file")
        agg(spark.read.format("graft-kv")
          .option("splitRegionBytes", 16 * 1024 * 1024).load(dir), "split 16MB")

      case "kvdelete" =>
        // Tombstone economics at scale: deleting K keys from an N-key
        // table as (a) a MARKER commit + read-time masking (the engine's
        // delete) vs (b) the wholesale filter+rewrite it replaces. Also
        // prices the steady-state masking overhead on the full scan, the
        // deleted-key point Get, and the post-major-compaction scan
        // (masking retired, markers purged).
        import org.apache.spark.sql.functions._
        val n = 4000000L
        val delKeys = sys.env.getOrElse("GRAFT_DELETE_KEYS", "100000").toLong
        val regions = 32
        val dir = s"${sys.props("java.io.tmpdir")}/graft_scratch/kvdelete"
        val rewriteDir = s"${dir}_rewrite"
        Seq(dir, rewriteDir).foreach(graft.sinks.Sinks.deleteRecursive(spark, _))
        val base = spark.range(n).select(
          format_string("%07d", col("id")).as("rowKey"),
          lit("f").as("family"), lit("q").as("qualifier"),
          encode(col("id").cast("string"), "UTF-8").as("value"),
          col("id").as("ts"))
        time(s"stage table (${n / 1000000}M cells, $regions regions)") {
          base.write.format("graft-kv").option("regions", regions)
            .mode("overwrite").save(dir)
        }
        def fullScan(label: String): Unit = {
          val r = time(s"full scan ($label)") {
            spark.read.format("graft-kv").load(dir)
              .agg(count(lit(1)), bit_xor(xxhash64(col("rowKey"), col("ts"))))
              .collect()
          }
          println(s"  rows=${r(0).getLong(0)}")
        }
        fullScan("pre-delete, no markers")
        // every 40th key: 100k row deletes
        val victims = spark.range(delKeys)
          .select(format_string("%07d", col("id") * (n / delKeys)).as("rowKey"))
        time(s"(a) marker commit (${delKeys / 1000}k row deletes)") {
          graft.sources.KvDelete.deleteRows(spark, dir, victims, regions = 4)
        }
        fullScan("post-delete, masked")
        time("point Get of a deleted key") {
          val c = spark.read.format("graft-kv").load(dir)
            .filter(col("rowKey") === "0000040").count()
          require(c == 0, s"deleted key visible: $c")
        }
        time(s"(b) the rewrite alternative (filter+rewrite ${n / 1000000}M cells)") {
          spark.read.format("graft-kv").option("readTombstones", "true").load(dir)
            .filter(col("qualifier") >= "\u0001") // drop the markers themselves
            .join(victims, Seq("rowKey"), "left_anti")
            .write.format("graft-kv").option("regions", regions)
            .mode("overwrite").save(rewriteDir)
        }
        time("major compaction (applies + purges markers)") {
          val res = graft.sources.KvCompactor.compact(spark, dir, regions = regions)
          require(res.isInstanceOf[graft.sources.KvCompactor.Compacted], res.toString)
        }
        fullScan("post-compaction, marker-free")

      case "maskcap" =>
        // The delete mask AT ITS CAP (MaxLiveMarkers = 4M): how much the
        // driver pays to load it, what a masked full scan costs in each
        // mask mode, and that the r13 REGION-SCOPED slices actually
        // engage on the layout that matters (disjoint/compacted). Two
        // stagings of the same 8M-cell / 4M-marker table:
        //  (a) compacted (one overwrite commit, disjoint regions) →
        //      sliced mode: each task receives only its file's markers;
        //  (b) three FULL-SPAN epoch commits (regions=1 each): every
        //      data file spans the whole keyspace, so slices would
        //      triple the mask (3m, decisively past the strict 2m
        //      guard) → the guard falls back to the r12 broadcast.
        //      (Two 32-region epochs — the earlier shape — only double
        //      the slices, which the guard admits as sliced, exactly
        //      as BASELINE.md records.)
        import org.apache.spark.sql.functions._
        val keys = 2L * graft.sources.KvDelete.MaxLiveMarkers // 8M keys
        val delKeys = graft.sources.KvDelete.MaxLiveMarkers // the cap
        val regions = 32
        def rows(ids: org.apache.spark.sql.Dataset[java.lang.Long]) = ids.select(
          format_string("%08d", col("id")).as("rowKey"),
          lit("f").as("family"), lit("q").as("qualifier"),
          encode(col("id").cast("string"), "UTF-8").as("value"),
          col("id").as("ts"))
        val victims = spark.range(delKeys)
          .select(format_string("%08d", col("id") * 2L).as("rowKey"))
        for ((label, overlapped) <- Seq(("disjoint", false), ("overlapped", true))) {
          val dir = s"${sys.props("java.io.tmpdir")}/graft_scratch/maskcap_$label"
          graft.sinks.Sinks.deleteRecursive(spark, dir)
          time(s"stage $label (${keys / 1000000}M cells, " +
              s"${if (overlapped) "3 full-span epochs" else s"$regions regions"})") {
            if (!overlapped)
              rows(spark.range(keys)).write.format("graft-kv")
                .option("regions", regions).mode("overwrite").save(dir)
            else (0 until 3).foreach { i =>
              rows(spark.range(keys).filter(pmod(col("id"), lit(3)) === i))
                .write.format("graft-kv").option("regions", 1)
                .mode("append").save(dir)
            }
          }
          time(s"marker commit at the cap (${delKeys / 1048576}Mi row deletes)") {
            graft.sources.KvDelete.deleteRows(spark, dir, victims, regions = 8)
          }
          val df = spark.read.format("graft-kv").load(dir)
          val r = time(s"masked full scan ($label)") {
            df.agg(count(lit(1))).collect()
          }
          val plan = df.queryExecution.executedPlan.toString
          val mode = if (plan.contains("mode=sliced")) "sliced"
            else if (plan.contains("mode=broadcast")) "broadcast" else "?"
          println(s"  $label: rows=${r(0).getLong(0)} maskMode=$mode")
          time(s"point Get of a deleted key ($label)") {
            require(spark.read.format("graft-kv").load(dir)
              .filter(col("rowKey") === "00000002").count() == 0)
          }
        }

      case "saltget" =>
        // Task-8 evidence: a point Get on a SALTED, COMPACTED table.
        // Compacted regions hold far more keys than the per-segment bloom
        // cap (blooms self-disable), and their stored ranges interleave
        // salt prefixes — the question is whether range pruning still
        // pins the Get to ONE region file. It does: the salt expansion
        // maps a logical key to its ONE stored key, and compacted regions
        // are stored-range DISJOINT, so exactly one file's [min,max] can
        // contain it. Bloom-less compacted salted layouts therefore keep
        // the 1-file Get; chunked blooms are not needed.
        import org.apache.spark.sql.functions._
        val n2 = 2000000L
        val dir2 = s"${sys.props("java.io.tmpdir")}/graft_scratch/saltget"
        graft.sinks.Sinks.deleteRecursive(spark, dir2)
        val df2 = spark.range(n2).select(
          format_string("%08d", col("id")).as("rowKey"),
          lit("f").as("family"), lit("q").as("qualifier"),
          encode(col("id").cast("string"), "UTF-8").as("value"),
          col("id").as("ts"))
        time(s"stage salted (${n2 / 1000000}M keys, 16 buckets, 8 epochs)") {
          (0 until 4).foreach { i =>
            graft.sources.KvSalt.saltedWrite(
              df2.filter(pmod(col("id"), lit(4)) === i), dir2, n = 16,
              regions = 8)
          }
        }
        time("compact to 8 regions (250k keys/file — blooms self-disable)") {
          val res = graft.sources.KvCompactor.compact(spark, dir2, regions = 8)
          require(res.isInstanceOf[graft.sources.KvCompactor.Compacted], res.toString)
        }
        locally {
          val fsys = new org.apache.hadoop.fs.Path(dir2)
            .getFileSystem(spark.sessionState.newHadoopConf())
          val stats = graft.sources.KvLog.liveFileStats(fsys,
            new org.apache.hadoop.fs.Path(dir2))
          println(s"  blooms present on ${stats.values.count(_.bloom.isDefined)}" +
            s"/${stats.size} compacted files")
        }
        val get = spark.read.format("graft-kv").load(dir2)
          .filter(col("rowKey") === "01000000")
        time("point Get on the salted compacted table") {
          require(get.count() == 1)
        }
        val planned = "regions=(\\d+)/(\\d+)".r
          .findFirstIn(get.queryExecution.executedPlan.toString)
        println(s"  Get planned $planned")

      case "saltsql" =>
        // r13 sink-side salting economics: a catalog SQL INSERT into a
        // salt_buckets table (the sink salts + demuxes per bucket) vs the
        // path API's pre-salted write of the SAME rows (projection + its
        // own exchange). Same logical content, same bucket count — the
        // question is whether the demux writer costs anything material
        // over the pre-salt path, and whether the SQL-landed layout
        // certifies contiguity and serves a pruned point Get identically.
        import org.apache.spark.sql.functions._
        val nS = 4000000L
        val bucketsS = 16
        val whS = s"${sys.props("java.io.tmpdir")}/graft_scratch/saltsql_wh"
        val pathDir = s"${sys.props("java.io.tmpdir")}/graft_scratch/saltsql_path"
        graft.sinks.Sinks.deleteRecursive(spark, whS)
        graft.sinks.Sinks.deleteRecursive(spark, pathDir)
        val rowsS = spark.range(nS).select(
          format_string("%08d", col("id")).as("rowKey"),
          lit("f").as("family"), lit("q").as("qualifier"),
          encode(col("id").cast("string"), "UTF-8").as("value"),
          col("id").as("ts"))
        time(s"(a) path pre-salted write (${nS / 1000000}M cells, $bucketsS buckets, 8 regions)") {
          graft.sources.KvSalt.saltedWrite(rowsS, pathDir, n = bucketsS,
            regions = 8, mode = "overwrite")
        }
        spark.conf.set("spark.sql.catalog.scrsalt",
          classOf[graft.sources.GraftKvCatalog].getName)
        spark.conf.set("spark.sql.catalog.scrsalt.warehouse", whS)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS scrsalt.ns")
        rowsS.createOrReplaceTempView("scr_saltsql_src")
        spark.sql("CREATE TABLE scrsalt.ns.t (rowKey STRING, family STRING, " +
          "qualifier STRING, value BINARY, ts BIGINT) USING `graft-kv` " +
          s"TBLPROPERTIES('regions'='8','salt_buckets'='$bucketsS')")
        time(s"(b) catalog SQL INSERT, sink-salted (${nS / 1000000}M cells)") {
          spark.sql("INSERT INTO scrsalt.ns.t SELECT * FROM scr_saltsql_src")
        }
        require(graft.sources.KvTableInfo.keyContiguousRegions(spark,
          s"$whS/ns/t"), "SQL-landed salted layout must certify contiguity")
        time("point Get via SQL (logical key, salt-expanded prune)") {
          require(spark.sql(
            "SELECT count(*) FROM scrsalt.ns.t WHERE rowKey = '01000000'")
            .head().getLong(0) == 1)
        }
        time("point Get via path API on the pre-salted table") {
          require(spark.read.format("graft-kv").load(pathDir)
            .filter(col("rowKey") === "01000000").count() == 1)
        }
        locally {
          val a = spark.read.format("graft-kv").load(pathDir).count()
          val b = spark.sql("SELECT count(*) FROM scrsalt.ns.t").head().getLong(0)
          println(s"  rows: path=$a sql=$b (must match: ${a == b})")
        }

      case "maskedauto" =>
        // r14 masked zero-exchange pivot economics: a compacted table
        // with LIVE delete markers — the state every mutable table sits
        // in between a DELETE and its next compaction. pivotAuto now
        // keeps the presorted (exchange-free) route there; the question
        // is what that is worth vs the masked hash pivot on the same
        // table, and that both agree with the survivor count.
        import org.apache.spark.sql.functions._
        val nM = 8000000L
        val dirM = s"${sys.props("java.io.tmpdir")}/graft_scratch/maskedauto"
        graft.sinks.Sinks.deleteRecursive(spark, dirM)
        val rowsM = spark.range(nM).select(
          format_string("%08d", (col("id") / 4).cast("long")).as("rowKey"),
          lit("f").as("family"),
          concat(lit("q"), (col("id") % 4).cast("string")).as("qualifier"),
          encode(col("id").cast("string"), "UTF-8").as("value"),
          col("id").as("ts"))
        rowsM.write.format("graft-kv").option("regions", 16)
          .mode("overwrite").save(dirM)
        graft.sources.KvCompactor.compact(spark, dirM, regions = 16)
        // 50k whole-row deletes (the GDPR erasure shape), markers only
        import spark.implicits._
        val victimsM = spark.range(50000)
          .select(format_string("%08d", col("id") * 37 % (nM / 4)).as("rowKey"))
          .distinct()
        time("marker DELETE (50k keys)") {
          graft.sources.KvDelete.deleteRows(spark, dirM, victimsM)
        }
        println(s"  auto route: ${graft.ops.KvPivot.autoStrategy(spark, dirM)}")
        val colsM = (0 until 4).map(i => s"q$i")
        def pivotCount(strategy: String): Long =
          graft.ops.KvPivot.pivotAuto(spark, dirM, colsM,
            strategy = Some(strategy)).count()
        val cHash = time("(a) masked HASH pivot (one exchange)") {
          pivotCount("hash")
        }
        val cPre = time("(b) masked PRESORTED pivot (zero exchange, r14 auto route)") {
          pivotCount("presorted")
        }
        println(s"  rows: hash=$cHash presorted=$cPre (must match: ${cHash == cPre})")

      case "saltpipe" =>
        // r14 streaming sink-salting economics: the same WAL replayed
        // (a) into an UNSALTED catalog table and (b) into a salt_buckets
        // table where every epoch demuxes per bucket — the delta is the
        // whole cost of making writeStream.toTable work on salted
        // tables. Epoch count and rows identical.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        val nP = 4000000L
        val whP = s"${sys.props("java.io.tmpdir")}/graft_scratch/saltpipe_wh"
        val srcP = s"${sys.props("java.io.tmpdir")}/graft_scratch/saltpipe_src"
        graft.sinks.Sinks.deleteRecursive(spark, whP)
        graft.sinks.Sinks.deleteRecursive(spark, srcP)
        val rowsP = spark.range(nP).select(
          format_string("%08d", col("id")).as("rowKey"),
          lit("f").as("family"), lit("q").as("qualifier"),
          encode(col("id").cast("string"), "UTF-8").as("value"),
          col("id").as("ts"))
        (0 until 4).foreach { i =>
          rowsP.filter(pmod(col("ts"), lit(4)) === i)
            .write.format("graft-kv").option("regions", 4)
            .mode("append").save(srcP)
        }
        spark.conf.set("spark.sql.catalog.scrpipe",
          classOf[graft.sources.GraftKvCatalog].getName)
        spark.conf.set("spark.sql.catalog.scrpipe.warehouse", whP)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS scrpipe.ns")
        def pipeTo(table: String, salted: Boolean): Unit = {
          spark.sql("CREATE TABLE scrpipe.ns." + table +
            " (rowKey STRING, family STRING, qualifier STRING, " +
            "value BINARY, ts BIGINT) USING `graft-kv` " +
            "TBLPROPERTIES('regions'='8'" +
            (if (salted) ",'salt_buckets'='16'" else "") + ")")
          val cp = s"${sys.props("java.io.tmpdir")}/graft_scratch/saltpipe_cp_$table"
          graft.sinks.Sinks.deleteRecursive(spark, cp)
          val q = spark.readStream.format("graft-kv")
            .option("maxFilesPerBatch", 4).load(srcP)
            .writeStream.option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow()).toTable(s"scrpipe.ns.$table")
          q.awaitTermination()
        }
        time(s"(a) streaming pipe -> UNSALTED table (${nP / 1000000}M cells, 4 epochs)") {
          pipeTo("plain", salted = false)
        }
        time(s"(b) streaming pipe -> salt_buckets=16 table (sink demux per epoch)") {
          pipeTo("salted", salted = true)
        }
        locally {
          val a = spark.sql("SELECT count(*) FROM scrpipe.ns.plain").head().getLong(0)
          val b = spark.sql("SELECT count(*) FROM scrpipe.ns.salted").head().getLong(0)
          println(s"  rows: plain=$a salted=$b (must match: ${a == b})")
          val get = time("point Get on the salted landed table (logical key)") {
            spark.sql("SELECT count(*) FROM scrpipe.ns.salted WHERE rowKey = '01000000'")
              .head().getLong(0)
          }
          require(get == 1, s"expected 1 row, got $get")
        }

      case "kvupdate" =>
        // Copy-on-write UPDATE economics: a KEYED update must rewrite the
        // few region files holding the keys (static group pruning via
        // manifest bounds), not the table — the Iceberg COW cost model.
        import org.apache.spark.sql.functions._
        val n = 4000000L
        val regions = 32
        val wh = s"${sys.props("java.io.tmpdir")}/graft_scratch/kvupdate_wh"
        graft.sinks.Sinks.deleteRecursive(spark, wh)
        spark.conf.set("spark.sql.catalog.scrupd",
          classOf[graft.sources.GraftKvCatalog].getName)
        spark.conf.set("spark.sql.catalog.scrupd.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS scrupd.ns")
        spark.range(n).select(
            format_string("%07d", col("id")).as("rowKey"),
            lit("f").as("family"), lit("q").as("qualifier"),
            encode(col("id").cast("string"), "UTF-8").as("value"),
            col("id").as("ts"))
          .createOrReplaceTempView("scr_upd_src")
        time(s"stage table (${n / 1000000}M cells, $regions regions)") {
          spark.sql("CREATE TABLE scrupd.ns.t USING `graft-kv` " +
            s"TBLPROPERTIES('regions'='$regions') AS SELECT * FROM scr_upd_src")
        }
        time("keyed UPDATE (1 key, group-pruned)") {
          spark.sql("UPDATE scrupd.ns.t SET value = CAST('xx' AS BINARY) " +
            "WHERE rowKey = '1000000'")
        }
        val dir = new org.apache.hadoop.fs.Path(s"$wh/ns/t")
        val fsys = dir.getFileSystem(spark.sessionState.newHadoopConf())
        val entry = graft.sources.KvLog.read(fsys, dir,
          graft.sources.KvLog.latestSeq(fsys, dir)).get
        println(s"  keyed UPDATE replaced ${entry.removes.size}/$regions regions")
        time("range UPDATE (1/32 of the keyspace)") {
          spark.sql("UPDATE scrupd.ns.t SET value = CAST('yy' AS BINARY) " +
            "WHERE rowKey >= '1000000' AND rowKey < '1125000'")
        }
        time("unkeyed UPDATE (full-table rewrite)") {
          spark.sql("UPDATE scrupd.ns.t SET ts = ts + 0 WHERE ts % 1000 = 7")
        }
        time("post-update full scan") {
          val r = spark.sql("SELECT count(*) FROM scrupd.ns.t").head().getLong(0)
          require(r == n, s"row count drifted: $r")
        }

      case "zogen" =>
        import org.apache.spark.sql.functions._
        import graft.functions.ZOrderInterleave
        // minimal repro of the bench's janino failure: z_order inside the
        // repartitionByRange sampling + sort stage
        val df = graft.kv.KvTable.events(spark, sfDir)
          .select(col("user_id"), floor(col("value") * 100).cast("long").as("vx"))
          .withColumn("zv", ZOrderInterleave.zOrder(col("user_id"), col("vx")))
          .repartitionByRange(8, col("zv")).sortWithinPartitions("zv")
        time("zorder layout pass")(println("  rows " + df.count()))
      case "aqeskew" =>
        import org.apache.spark.sql.functions._
        // One hot key in a forced-shuffle large-large equi-join: does Spark 4
        // AQE's skew-join split make manual salting redundant, and where
        // does salt still win?
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val n = 8000000L
        val left = spark.range(n).selectExpr(
          "CASE WHEN id % 4 < 3 THEN 0L ELSE id % 1000 END AS k", // 75% on key 0
          "id AS lv").localCheckpoint()
        val right = spark.range(1000L).selectExpr("id AS k", "id * 7 AS rv")
          .localCheckpoint()
        def runJoin(tag: String): Long = {
          var out = 0L
          time(tag) {
            val j = left.join(right, "k").agg(sum(col("lv") + col("rv")))
            out = j.collect()(0).getLong(0)
            val plan = j.queryExecution.executedPlan.toString
            println("  skew-read in plan: " + plan.linesIterator
              .filter(_.contains("AQEShuffleRead")).mkString(" | "))
          }
          out
        }
        // A: AQE defaults (skew thresholds tuned down to fire at test scale)
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        val a = runJoin("hot-key join, AQE skew split")
        // B: AQE skew split disabled — the one-task sort-merge baseline
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        val b = runJoin("hot-key join, skew split OFF")
        // C: manual two-phase salt (SkewTools-style): explode the small side
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        val salt = 32
        var c = 0L
        time("hot-key join, manual salt x32") {
          val ls = left.withColumn("s", (col("lv") % salt).cast("int"))
          val rs = right.withColumn("s", explode(sequence(lit(0), lit(salt - 1))))
          c = ls.join(rs, Seq("k", "s")).agg(sum(col("lv") + col("rv")))
            .collect()(0).getLong(0)
        }
        println(s"  checksums equal = ${a == b && b == c} ($a)")
      case "latebatch" =>
        // Per-micro-batch decomposition of stream_pivot_late: same staging
        // and plan as Queries.streamPivotLate, but holding the query handle
        // so recentProgress exposes where the wall-clock goes.
        import org.apache.spark.sql.functions._
        import graft.streaming.StreamingPivot
        val raw = graft.kv.KvTable.eventsRaw(spark, s"$sfDir/events.parquet")
        val (dir, lateNs) = StreamingPivot.stageEventsShuffled(
          raw, nChunks = 4, horizonNanos = 3600L * 1000000000L)
        for (rep <- 1 to 6) {
          val parts = if (rep % 2 == 0) "8" else "32"
          spark.conf.set("spark.sql.shuffle.partitions", parts)
          val cells = spark.readStream
            .schema(graft.kv.KvTable.EventsParquetSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(dir)
            .select(graft.kv.KvTable.eventCellColumns :+
              expr("timestamp_micros(ts DIV 1000)").as("eventTime"): _*)
          val piv = StreamingPivot.windowedPivot(cells, Queries.EventCols,
            watermark = s"${lateNs / 1000000L + 2} milliseconds")
          val t0 = System.nanoTime()
          val q = piv.writeStream.format("memory").queryName(s"late_$rep")
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          println(f"[late] rep $rep parts=$parts total ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
            s"batches=${q.recentProgress.length} rows=${spark.table(s"late_$rep").count()}")
          q.recentProgress.foreach { p =>
            val d = p.durationMs
            println(s"[late]   batch=${p.batchId} rows=${p.numInputRows} " +
              s"triggerMs=${d.get("triggerExecution")} addBatch=${d.get("addBatch")} " +
              s"getBatch=${d.get("getBatch")} latestOffset=${d.get("latestOffset")} " +
              s"commit=${d.get("commitOffsets")} wal=${d.get("walCommit")}")
          }
        }
      case "pivotdecomp" =>
        // r21: where do the export-pivot seconds go? The sf fixtures are
        // single-row-group parquet, so everything upstream of the pivot's
        // exchange (scan + cell explode + partial ObjectHashAggregate) runs
        // in ONE task regardless of split planning. Decompose:
        //   cells-only  — scan + rowKey build + explode, noop sink
        //   pivot       — current plan (partial agg before the exchange)
        //   pivot+shuf  — repartition(rowKey) first: partial agg moves to
        //                 the parallel side of the one exchange
        import org.apache.spark.sql.functions._
        val schemaCols = Seq("qty", "ln", "flag", "KEY")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        for (rep <- 1 to 3) {
          val cells = graft.kv.KvTable.lineitemAsCells(spark, sfDir)
          println(s"[pivotdecomp] rep $rep scan partitions = ${cells.rdd.getNumPartitions}")
          time("cells only (noop)")(noop(cells))
          time("pivot current (noop)") {
            noop(graft.ops.KvPivot.pivot(cells, schemaCols,
              rowKeyCol = Some("KEY"), family = Some("c")))
          }
          time("pivot shuffle-first (noop)") {
            val pre = cells.repartition(col("rowKey"))
            noop(graft.ops.KvPivot.pivot(pre, schemaCols,
              rowKeyCol = Some("KEY"), family = Some("c")))
          }
          time("typed_export full (count)")(
            Queries.kvTypedExport(spark, sfDir).count(): Unit)
          // C: repartition the UNEXPLODED rows on rowKey — the narrowest
          // possible exchange (600k rows, no duplicated key strings), with
          // rowKey build serial but explode + binary encodes + agg parallel;
          // groupBy(rowKey) reuses the partitioning (one Exchange total).
          time("pivot preshuffle-unexploded (noop)") {
            import graft.functions.ByteCodecs._
            val li = graft.kv.KvTable.table(spark, sfDir, "lineitem")
            val pre = li.select(graft.kv.KvTable.lineitemKey.as("rowKey"),
                col("l_quantity"), col("l_linenumber"), col("l_returnflag"))
              .repartition(col("rowKey"))
            val cellsC = pre.select(
                col("rowKey"),
                explode(array(
                  struct(lit("qty").as("qualifier"),
                    longToBinary(floor(col("l_quantity"))).as("value"),
                    floor(col("l_quantity")).cast("long").as("ts")),
                  struct(lit("ln").as("qualifier"),
                    intToBinary(col("l_linenumber")).as("value"),
                    col("l_linenumber").cast("long").as("ts")),
                  struct(lit("flag").as("qualifier"),
                    encode(col("l_returnflag"), "UTF-8").as("value"),
                    ascii(col("l_returnflag")).cast("long").as("ts")))).as("cell"))
              .select(col("rowKey"), lit("c").as("family"),
                col("cell.qualifier").as("qualifier"), col("cell.value").as("value"),
                col("cell.ts").as("ts"))
            noop(graft.ops.KvPivot.pivot(cellsC, schemaCols,
              rowKeyCol = Some("KEY"), family = Some("c")))
          }
          time("rowkey-project only (noop)") {
            val li = graft.kv.KvTable.table(spark, sfDir, "lineitem")
            noop(li.select(graft.kv.KvTable.lineitemKey.as("rowKey"),
              col("l_quantity"), col("l_linenumber"), col("l_returnflag")))
          }
          val ev = graft.kv.KvTable.eventsAsCells(spark, sfDir)
          time("events pivot current (noop)")(
            noop(graft.ops.KvPivot.pivot(ev, Queries.EventCols, family = Some("f"))))
          time("events pivot shuffle-first (noop)")(
            noop(graft.ops.KvPivot.pivot(ev.repartition(col("rowKey")),
              Queries.EventCols, family = Some("f"))))
        }
        println(graft.ops.KvPivot.pivot(
          graft.kv.KvTable.lineitemAsCells(spark, sfDir), schemaCols,
          rowKeyCol = Some("KEY"), family = Some("c")).queryExecution.executedPlan)

      case "balprobe" =>
        // r21: why do small map-only queries regress under ScanBalance?
        // A/B the raw vs balanced docs scan through three downstream shapes.
        import org.apache.spark.sql.functions._
        val raw = graft.kv.KvTable.table(spark, sfDir, "documents")
        val bal = raw.repartition(32, col("doc_id"))
        def ab(name: String, f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
          for ((lbl, d) <- Seq("raw" -> raw, "bal" -> bal); rep <- 1 to 3) {
            val t0 = System.nanoTime(); f(d).count()
            println(f"[balprobe] $name%-12s $lbl rep$rep ${(System.nanoTime() - t0) / 1e9}%.3f s")
          }
        }
        ab("resample", d => graft.ext.Multimodal.resampleAudio(
          graft.ext.Multimodal.withRealAudioPayloads(
            graft.ext.Multimodal.syntheticMedia(d)), outRate = 8000).toDF())
        ab("fingerprint", d => graft.ext.TextAnalysis.fingerprints(d))
        ab("clean", d => {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("_h1"), col("_h2"))
          d.select(col("doc_id") +: graft.ext.Dedup.textKey128(col("text")) :+
              graft.ext.TextAnalysis.stats(col("text")).as("_st"): _*)
            .select(col("doc_id"), col("_h1"), col("_h2"),
              graft.ext.TextAnalysis.langPredict(
                graft.ext.TextAnalysis.langScoresFrom(col("_st"))).as("lang_pred"),
              graft.ext.TextAnalysis.qualityScoreFrom(col("_st")).as("quality"),
              col("_st.ws_tokens").as("ws_tokens"))
            .filter(col("lang_pred") === "en" && col("quality") >= 500)
            .withColumn("_canonical", min(col("doc_id")).over(w))
            .filter(col("doc_id") === col("_canonical"))
            .select(col("doc_id"), col("lang_pred"), col("quality"), col("ws_tokens"))
        })

      case "streamfloor" =>
        // r22 verdict #1: WHERE does the multi-batch replay floor go?
        // Per-batch StreamingQueryProgress.durationMs decomposition of the
        // heavy replays under conf variants (state store provider,
        // changelog checkpointing, no-data micro-batches).
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.streaming.{OutputMode, Trigger}
        var tick = 0
        def runProgress(mk: => org.apache.spark.sql.DataFrame, label: String,
            mode: OutputMode, confs: Map[String, String]): Unit = {
          tick += 1
          val name = s"sf_probe_$tick"
          val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
          confs.foreach { case (k, v) => spark.conf.set(k, v) }
          try {
            val t0 = System.nanoTime()
            val q = mk.writeStream.format("memory").queryName(name)
              .outputMode(mode).trigger(Trigger.AvailableNow()).start()
            q.awaitTermination()
            val sec = (System.nanoTime() - t0) / 1e9
            val progs = q.recentProgress
            val rows = spark.table(name).count()
            println(f"[streamfloor] $label%-40s total=$sec%6.2f s batches=${progs.length} rows=$rows")
            val keys = progs.flatMap(_.durationMs.keySet.asScala).distinct.sorted
            for (k <- keys) {
              val tot = progs.map(p =>
                Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
              println(f"    $k%-28s ${tot / 1000.0}%6.2f s")
            }
          } finally prev.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None) => spark.conf.unset(k)
          }
        }
        val joinDir = Queries.ensureJoinDir(spark, sfDir)
        def joinDf = {
          def side(tpe: String) = spark.readStream
            .schema(graft.kv.KvTable.EventsParquetSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(joinDir)
            .filter(org.apache.spark.sql.functions.col("event_type") === tpe)
          graft.streaming.StreamingPivot.intervalJoin(side("click"), side("purchase"))
        }
        val sp8 = Map("spark.sql.shuffle.partitions" -> "8")
        val rocks = sp8 + ("spark.sql.streaming.stateStore.providerClass" ->
          graft.streaming.StreamingPivot.RocksDbProvider)
        val rocksCl = rocks +
          ("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
        val noData = sp8 + ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
        for (rep <- 1 to 2) {
          runProgress(joinDf, s"join base sp8 rep$rep", OutputMode.Append(), sp8)
          runProgress(joinDf, s"join rocksdb rep$rep", OutputMode.Append(), rocks)
          runProgress(joinDf, s"join rocksdb+changelog rep$rep", OutputMode.Append(), rocksCl)
          runProgress(joinDf, s"join noDataOff rep$rep", OutputMode.Append(), noData)
          runProgress(joinDf, s"join sp2 rep$rep", OutputMode.Append(),
            Map("spark.sql.shuffle.partitions" -> "2"))
        }
        // ingest dedup (two chained stateful ops, 7-batch late replay)
        val (lateDir, lateNs) = Queries.ensurePivotLateDir(spark, sfDir)
        def ingestDf = {
          def leg = spark.readStream
            .schema(graft.kv.KvTable.EventsParquetSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(lateDir)
          val atLeastOnce = leg.union(
            leg.filter(org.apache.spark.sql.functions.col("event_id") % 10 === 0))
          graft.streaming.StreamingPivot.dedupedHourlyCounts(atLeastOnce,
            watermark = s"${lateNs / 1000000L + 2} milliseconds")
        }
        for (rep <- 1 to 2) {
          runProgress(ingestDf, s"ingest base sp8 rep$rep", OutputMode.Append(), sp8)
          runProgress(ingestDf, s"ingest rocksdb+cl rep$rep", OutputMode.Append(), rocksCl)
          runProgress(ingestDf, s"ingest noDataOff rep$rep", OutputMode.Append(), noData)
        }

      case "batchcount" =>
        // does runAvailableNow's noDataMicroBatches=false actually drop the
        // trailing batch for the registered queries?
        val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
        spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
            counts.merge(e.progress.name, 1, (a, b) => a + b)
          override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        })
        for (rep <- 1 to 2) {
          time("streamJoin")(Queries.streamJoin(spark, sfDir).count())
          time("streamIngestDedup")(Queries.streamIngestDedup(spark, sfDir).count())
          time("streamPivotLate")(Queries.streamPivotLate(spark, sfDir).count())
          time("streamSessions")(Queries.streamSessions(spark, sfDir).count())
        }
        Thread.sleep(2000)
        counts.forEach((k, v) => println(s"[batchcount] $k -> $v progress events"))

      case "retdecomp" =>
        // r22 verdict #6: decompose kv_state_merge_retention /
        // kv_replicated_retention — which leg costs: the graft-kv read,
        // the marker application, or the LWW aggregate shuffle?
        import org.apache.spark.sql.functions._
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val path = Queries.ensureTtlCompactCells(spark, sfDir)
        for (rep <- 1 to 3) {
          time("smr: asOf0 read only")(noop(
            spark.read.format("graft-kv").option("asOfSeq", 0).load(path)))
          time("smr: lww(asOf0)")(noop(Queries.lwwCells(
            spark.read.format("graft-kv").option("asOfSeq", 0).load(path))))
          time("smr: delta read only")(noop(
            spark.read.format("graft-kv").option("sinceSeq", 0).load(path)
              .select("rowKey", "family", "qualifier", "value", "ts")))
          time("smr: full query")(noop(Queries.kvStateMergeRetention(spark, sfDir)))
          time("rc: full query")(noop(Queries.kvRetentionChanges(spark, sfDir)))
          time("rr: full query")(noop(Queries.kvReplicatedRetention(spark, sfDir)))
          val rp = graft.Queries.artifactPath("replicated_retention", sfDir)
          time("rr: plain read")(noop(spark.read.format("graft-kv").load(rp)))
        }

      case "tridecomp" =>
        // r22: where do rel_triangles' ~2.8 s go — the co-occurrence pair
        // generation, or the wedge enumeration?
        import org.apache.spark.sql.functions._
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        for (rep <- 1 to 3) {
          val pe = graft.kv.KvTable.table(spark, sfDir, "lineitem")
            .select(col("l_orderkey"), col("l_suppkey")).distinct()
          val pairs = pe.as("a").join(pe.as("b"),
              col("a.l_orderkey") === col("b.l_orderkey") &&
                col("a.l_suppkey") < col("b.l_suppkey"))
            .select(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
            .distinct()
          val e = pairs.filter(
            ((col("u") * 2654435761L + col("v") * 40503L) % 1000003L) % 5 === 0)
          time("tri: pairs+sample")(noop(e))
          println(s"  edges = ${e.count()}")
          time("tri: full")(noop(Queries.relTriangles(spark, sfDir)))
        }

      case "maskcount" =>
        import org.apache.spark.sql.functions._
        val src = Queries.ensureTtlCompactCells(spark, sfDir)
        val feed = spark.read.format("graft-kv").option("sinceSeq", 0).load(src)
        feed.groupBy(substring(col("qualifier"), 1, 2))
          .count().collect().foreach(r => println(s"[maskcount] feed q-prefix " +
            r.getString(0).map(c => f"\\u${c.toInt}%04x").mkString + " -> " + r.getLong(1)))
        val base = spark.read.format("graft-kv").option("asOfSeq", 0).load(src)
        println(s"[maskcount] baseline rows = ${base.count()}")
        val rp = Queries.artifactPath("replicated_retention", sfDir)
        println(s"[maskcount] replica masked rows = " +
          spark.read.format("graft-kv").load(rp).count())

      case "semdecomp" =>
        // r22 verdict #5: pipe_semantic_corpus — threshold scan vs joins.
        import org.apache.spark.sql.functions._
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        for (rep <- 1 to 3) {
          val e = Queries.embeds(spark, sfDir)
          time("sem: embeds scan")(noop(e))
          time("sem: verdicts only")(noop(
            graft.ext.Dedup.semanticDedup(e, thresholdX1000 = 350L)))
          time("sem: verdicts balanced")(noop(
            graft.ext.Dedup.semanticDedup(
              Queries.embedsBalanced(spark, sfDir), thresholdX1000 = 350L)))
          time("sem: full query")(noop(Queries.pipeSemanticCorpus(spark, sfDir)))
        }

      case "pivotbal" =>
        // r22: the export pivot's remaining serial leg — lineitemKey (4×lpad
        // + concat_ws over 600k rows) evaluates BELOW repartition(rowKey),
        // i.e. on the single-row-group scan task. Variant E balances the
        // scan on the numeric key first (ScanBalance doctrine: pass-through
        // on production-wide scans), so the string build runs parallel, at
        // the cost of one extra narrow exchange at toy scale.
        import org.apache.spark.sql.functions._
        val schemaCols = Seq("qty", "ln", "flag", "KEY")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        def cellsBalanced(): org.apache.spark.sql.DataFrame = {
          import graft.functions.ByteCodecs._
          val li = graft.ops.ScanBalance.ensureMinParallelismFor(
            graft.kv.KvTable.table(spark, sfDir, "lineitem"),
            col("l_orderkey"), s"$sfDir/lineitem.parquet")
          li.select(graft.kv.KvTable.lineitemKey.as("rowKey"),
              col("l_quantity"), col("l_linenumber"), col("l_returnflag"))
            .repartition(col("rowKey"))
            .select(
              col("rowKey"),
              explode(array(
                struct(lit("qty").as("qualifier"),
                  longToBinary(floor(col("l_quantity"))).as("value"),
                  floor(col("l_quantity")).cast("long").as("ts")),
                struct(lit("ln").as("qualifier"),
                  intToBinary(col("l_linenumber")).as("value"),
                  col("l_linenumber").cast("long").as("ts")),
                struct(lit("flag").as("qualifier"),
                  encode(col("l_returnflag"), "UTF-8").as("value"),
                  ascii(col("l_returnflag")).cast("long").as("ts")))).as("cell"))
            .select(col("rowKey"), lit("c").as("family"),
              col("cell.qualifier").as("qualifier"), col("cell.value").as("value"),
              col("cell.ts").as("ts"))
        }
        for (rep <- 1 to 3) {
          time("pivot current (noop)") {
            noop(graft.ops.KvPivot.pivot(
              graft.kv.KvTable.lineitemAsCells(spark, sfDir), schemaCols,
              rowKeyCol = Some("KEY"), family = Some("c")))
          }
          time("pivot scan-balanced (noop)") {
            noop(graft.ops.KvPivot.pivot(cellsBalanced(), schemaCols,
              rowKeyCol = Some("KEY"), family = Some("c")))
          }
        }
        println(graft.ops.KvPivot.pivot(cellsBalanced(), schemaCols,
          rowKeyCol = Some("KEY"), family = Some("c"))
          .queryExecution.executedPlan)

      case "triadj" =>
        // r22 (second session): rel_triangles' remaining cost is the wedge
        // enumeration — the oriented self-join MATERIALIZES O(m^1.5) wedge
        // rows and pushes them through the closing join's exchange. The
        // edge-iterator formulation (adjacency intersection) does the same
        // O(m^1.5) comparisons IN-ROW over sorted out-neighbor arrays and
        // never shuffles a wedge: per oriented edge (u,v), every
        // w ∈ N+(u) ∩ N+(v) closes a triangle (ranks u<v<w, counted once).
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.{Column, DataFrame}
        def noop(df: DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        def edges(): DataFrame = {
          val bySupp = graft.kv.KvTable.table(spark, sfDir, "lineitem")
            .groupBy(col("l_orderkey"))
            .agg(sort_array(collect_set(col("l_suppkey"))).as("ss"))
            .filter(size(col("ss")) > 1)
          val anchors = bySupp.select(col("ss"),
            posexplode(col("ss")).as(Seq("_pos", "u")))
          anchors.select(col("u"),
            explode(slice(col("ss"), col("_pos") + 2,
              size(col("ss")) - col("_pos") - 1)).as("v"))
            .distinct()
            .filter(((col("u") * 2654435761L + col("v") * 40503L) % 1000003L) % 5 === 0)
        }
        // The PRE-r22 wedge-join formulation, kept here as the probe
        // baseline after the library moved to adjacency intersection.
        def wedgeCounts(es: DataFrame): DataFrame = {
          val rankOf = (deg: Column, id: Column) => shiftleft(deg, 33) + id
          val e = es.localCheckpoint()
          val deg = e.select(col("u").as("n"))
            .unionAll(e.select(col("v").as("n")))
            .groupBy(col("n")).agg(count(lit(1)).as("deg"))
          val ranked = deg.select(col("n"), rankOf(col("deg"), col("n")).as("r"))
          val oriented = e
            .join(ranked.withColumnRenamed("n", "u").withColumnRenamed("r", "ru"), "u")
            .join(ranked.withColumnRenamed("n", "v").withColumnRenamed("r", "rv"), "v")
            .select(
              when(col("ru") < col("rv"), col("u")).otherwise(col("v")).as("src"),
              when(col("ru") < col("rv"), col("v")).otherwise(col("u")).as("dst"),
              greatest(col("ru"), col("rv")).as("rdst"))
            .localCheckpoint()
          val tri = oriented.as("e1")
            .join(oriented.as("e2"),
              col("e1.src") === col("e2.src") && col("e1.rdst") < col("e2.rdst"))
            .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
            .join(oriented.as("cl"),
              col("b") === col("cl.src") && col("c") === col("cl.dst"))
            .select(col("a"), col("b"), col("c"))
          tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
            .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
        }
        def edgesFilterFirst(): DataFrame = {
          val bySupp = graft.kv.KvTable.table(spark, sfDir, "lineitem")
            .groupBy(col("l_orderkey"))
            .agg(sort_array(collect_set(col("l_suppkey"))).as("ss"))
            .filter(size(col("ss")) > 1)
          val anchors = bySupp.select(col("ss"),
            posexplode(col("ss")).as(Seq("_pos", "u")))
          anchors.select(col("u"),
            explode(slice(col("ss"), col("_pos") + 2,
              size(col("ss")) - col("_pos") - 1)).as("v"))
            .filter(((col("u") * 2654435761L + col("v") * 40503L) % 1000003L) % 5 === 0)
            .distinct()
        }
        for (rep <- 1 to 3) {
          time("tri wedge-join (old)     ")(noop(wedgeCounts(edges())))
          time("tri adj-intersect (lib)  ")(noop(graft.ops.Triangles.perNodeCounts(edges())))
          time("tri intersect+filterfirst")(noop(graft.ops.Triangles.perNodeCounts(edgesFilterFirst())))
          time("tri edges only (old)     ")(noop(edges()))
          time("tri edges filter-first   ")(noop(edgesFilterFirst()))
        }
        val cur = wedgeCounts(edges())
        val neu = graft.ops.Triangles.perNodeCounts(edgesFilterFirst())
        println(s"[triadj] result diff: old\\new = ${cur.exceptAll(neu).count()}, " +
          s"new\\old = ${neu.exceptAll(cur).count()} (0/0 = identical)")

      case "triscale" =>
        // r22 (second session): evidence for the O(m^1.5) -> O(m) SHUFFLE
        // claim behind the adjacency-intersect Triangles — at sf0.1 the
        // supplier graph is too small to separate the variants, so build a
        // deterministic synthetic graph big enough that wedge volume
        // dominates: n=200k nodes, ~2M locality edges (v - u <= 64 keeps
        // clustering high, so triangles actually exist).
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.{Column, DataFrame}
        def noop(df: DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        def wedgeCounts(es: DataFrame): DataFrame = {
          val rankOf = (deg: Column, id: Column) => shiftleft(deg, 33) + id
          val e = es.localCheckpoint()
          val deg = e.select(col("u").as("n"))
            .unionAll(e.select(col("v").as("n")))
            .groupBy(col("n")).agg(count(lit(1)).as("deg"))
          val ranked = deg.select(col("n"), rankOf(col("deg"), col("n")).as("r"))
          val oriented = e
            .join(ranked.withColumnRenamed("n", "u").withColumnRenamed("r", "ru"), "u")
            .join(ranked.withColumnRenamed("n", "v").withColumnRenamed("r", "rv"), "v")
            .select(
              when(col("ru") < col("rv"), col("u")).otherwise(col("v")).as("src"),
              when(col("ru") < col("rv"), col("v")).otherwise(col("u")).as("dst"),
              greatest(col("ru"), col("rv")).as("rdst"))
            .localCheckpoint()
          val tri = oriented.as("e1")
            .join(oriented.as("e2"),
              col("e1.src") === col("e2.src") && col("e1.rdst") < col("e2.rdst"))
            .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
            .join(oriented.as("cl"),
              col("b") === col("cl.src") && col("c") === col("cl.dst"))
            .select(col("a"), col("b"), col("c"))
          tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
            .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
        }
        val n = 200000L
        val m = 2000000L
        val span = 64L
        val synth = spark.range(m).select(
            (abs(xxhash64(col("id"))) % (n - span)).as("u0"),
            (abs(xxhash64(col("id") * 31 + 7)) % span + 1).as("d"))
          .select(col("u0").as("u"), (col("u0") + col("d")).as("v"))
          .distinct()
        println(s"[triscale] edges = ${synth.count()}")
        for (rep <- 1 to 3) {
          time("triscale wedge-join (old)")(noop(wedgeCounts(synth)))
          time("triscale intersect (lib) ")(noop(graft.ops.Triangles.perNodeCounts(synth)))
        }
        // At 100 TB neither the oriented edge list nor the adjacency fits a
        // broadcast: disable auto-broadcast so the planner picks the shuffled
        // strategies it would pick at scale — THIS is where the wedge
        // materialization has to cross an exchange and the formulations
        // separate.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          for (rep <- 1 to 3) {
            time("triscale wedge SHUFFLED   ")(noop(wedgeCounts(synth)))
            time("triscale intersect SHUFFLED")(noop(graft.ops.Triangles.perNodeCounts(synth)))
          }
        } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        val cw = wedgeCounts(synth)
        val ci = graft.ops.Triangles.perNodeCounts(synth)
        println(s"[triscale] result diff: old\\new = ${cw.exceptAll(ci).count()}, " +
          s"new\\old = ${ci.exceptAll(cw).count()} (0/0 = identical)")

      case other => println(s"?? $other")
    }
    spark.stop()
  }
}
