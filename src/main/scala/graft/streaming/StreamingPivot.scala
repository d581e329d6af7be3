package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming analog of the export pipeline (SURVEY §2.12, §7.6):
  * the reference is batch MapReduce only — this gives its A1/A2 pivot an
  * incremental mode it never had.
  *
  *  - [[windowedPivot]]: declarative watermark + windowed aggregation —
  *    one pivoted KV row per (event-time window, rowKey), last-write-wins
  *    per qualifier, incremental state managed by Spark (the scale path:
  *    state store per key-window, late data bounded by the watermark).
  *  - [[LatestCells]]: `mapGroupsWithState` — a continuously-maintained
  *    latest-cell-per-qualifier map per rowKey, i.e. the HBase *memstore*
  *    restated as typed streaming state (custom-state escape hatch for
  *    semantics windows can't express).
  *
  * Batch/stream parity: `Trigger.AvailableNow` over the same files makes the
  * streaming result comparable (and oracle-checked, `stream_pivot`) against
  * the batch GROUP BY — same plan semantics, different execution mode.
  */
object StreamingPivot {

  /** The file streaming source requires a *directory*; stage the single
    * parquet file into a fresh temp dir via symlink (testdata is read-only).
    */
  private def asStreamDir(file: String): String = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_stream_")
    dir.toFile.deleteOnExit()
    Files.createSymbolicLink(dir.resolve(Paths.get(file).getFileName), Paths.get(file))
    dir.toString
  }

  /** The raw events table as a stream (`ts` = epoch nanos, long). The
    * fixture's physical `ts` encoding varies across harness regenerations
    * (timestamp[us] vs raw nanos), so the read schema comes from
    * [[graft.kv.KvTable.eventsReadSchema]] (footer-derived, batch-side —
    * streaming file sources can't infer) and the frame is normalized to
    * engine shape before any consumer sees it.
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    graft.kv.KvTable.normalizeRawEvents(
      spark.readStream
        .schema(graft.kv.KvTable.eventsReadSchema(spark, path))
        .parquet(asStreamDir(path)))
  }

  /** The events table as a *stream* of KV cells (same mapping as
    * KvTable.eventsAsCells plus an event-time column). `ts DIV 1000` stays
    * in integer arithmetic — epoch nanos exceed 2^52, double division would
    * lose microseconds.
    */
  def eventCellsStream(spark: SparkSession, sfDir: String): DataFrame =
    eventsStream(spark, sfDir)
      .select(graft.kv.KvTable.eventCellColumns :+
        expr("timestamp_micros(ts DIV 1000)").as("eventTime"): _*)

  /** Watermarked, windowed A1/A2: per (window, rowKey), the max-ts value
    * of each schema qualifier. Emits `win_start_us` (epoch micros of the
    * window start) so downstream schemas stay engine-neutral.
    */
  def windowedPivot(
      cells: DataFrame,
      columns: Seq[String],
      windowDur: String = "1 hour",
      watermark: String = "1 hour"): DataFrame = {
    // Same hash-aggregable LWW as the batch pivot (KvPivot): the custom
    // aggregate keeps the stateful agg ObjectHash-based instead of sorting
    // every micro-batch, and holds one state buffer per (window, rowKey).
    val lww = new graft.functions.LwwSlots(columns)
    // NB a pre-watermark filter would not shield late-replay punctuation
    // anyway: Catalyst pushes qualifier predicates below EventTimeWatermark
    // to the scan, so punctuation rows must survive the schema filter on
    // their own (stageEventsShuffled gives them a real qualifier).
    cells
      .filter(col("qualifier").isin(columns: _*))
      .withWatermark("eventTime", watermark)
      .groupBy(window(col("eventTime"), windowDur), col("rowKey"))
      .agg(lww.agg.as("_lww"))
      .select(unix_micros(col("window.start")).as("win_start_us") +:
        col("rowKey") +:
        columns.map(c => decode(lww.get(col("_lww"), c), "UTF-8").as(c)): _*)
  }

  /** Stream-static enrichment: the event stream joined to a STATIC dim
    * table (the classic "enrich the firehose with a dimension" shape),
    * then a watermarked windowed rollup per (window, nation).
    *
    * The static side is `broadcast()`-pinned: a stream-static join must
    * not shuffle the stream per micro-batch — with the dim broadcast, each
    * batch is map-side enriched and the only stateful exchange is the
    * windowed aggregation's. At 100 TB/day the dim (customer) is the side
    * that fits memory; were it not, the scale path is pre-bucketing both
    * sides, not broadcast.
    */
  def enrichedNationCounts(
      events: DataFrame,
      dim: DataFrame,
      windowDur: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events
      .select(col("user_id"), col("value"),
        expr("timestamp_micros(ts DIV 1000)").as("eventTime"))
      .withWatermark("eventTime", watermark)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("eventTime"), windowDur), col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100)).cast("long").as("val_x100"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("c_nationkey"), col("n_events"), col("val_x100"))

  /** EXACTLY-ONCE INGEST DEDUP over an at-least-once delivery stream — the
    * front door of every training-data ingest pipeline (redeliveries are
    * the NORM under retries/replays; downstream counts must not inflate).
    * Watermarked `dropDuplicatesWithinWatermark` on the event key, then an
    * hourly per-type aggregate, BOTH in append mode — the chained
    * stateful-operator shape Spark supports when every operator is
    * event-time-bounded. Scale story: dedup state is O(keys inside the
    * watermark delay), evicted as the watermark passes (the unbounded
    * alternative, plain `dropDuplicates`, holds every key forever and is
    * exactly what this operator exists to avoid); the aggregate's state is
    * O(open windows × types). Punctuation rows (event_id < 0, the staging
    * sentinels that flush append windows) are dropped after the dedup so
    * they advance the watermark without entering the counts.
    */
  def dedupedHourlyCounts(events: DataFrame, watermark: String): DataFrame =
    events
      .select(col("event_id"), col("event_type"), col("value"),
        expr("timestamp_micros(ts DIV 1000)").as("eventTime"))
      .withWatermark("eventTime", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .filter(col("event_id") >= 0)
      .groupBy(window(col("eventTime"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100)).cast("long").as("val_x100"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n_events"), col("val_x100"))

  /** Fully-qualified RocksDB state store provider class — the 100×-state
    * path: per-task state lives in native memory + local disk with
    * changelog/snapshot files in the checkpoint, instead of as JVM objects
    * in executor heap. Pass as [[runAvailableNow]]'s `stateStoreProvider`;
    * deep-state evidence in BASELINE.md (`Scratch rocksdb`).
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run a streaming DataFrame to completion over the currently-available
    * input (batch parity mode) and return the full result.
    *
    * `stateStoreProvider` overrides the state store backend for THIS query
    * only: the conf is read once at query start, so a set/restore around
    * `start()` scopes it (restored even when the run throws).
    *
    * `shufflePartitions` pins the query's STATE partition count (state store
    * instances = shuffle partitions, fixed at first run). Every instance
    * pays per-micro-batch commit I/O regardless of row count, so stateful
    * queries size this to their state VOLUME, not to the session default —
    * a stream-stream join holding rate × gap rows wants few fat stores at
    * test rates and proportionally more at production rates. Size it with
    * [[statePartitionsForInput]] unless the query knows its state volume
    * another way.
    *
    * NO-DATA MICRO-BATCHES are disabled for the run (r22, opt guide §1/§5 —
    * measured one full batch of pure floor per replay: stream_join
    * 4.5 → 3.8 s, stream_ingest_dedup 3.9 → 3.2 s, identical output rows).
    * Semantics are unchanged by construction for every engine replay:
    * emission is either data-driven (complete/update aggregations, inner
    * stream-stream joins, dropDuplicates) or driven by staged PUNCTUATION
    * rows that advance the watermark inside the data path (the
    * stageSessionFiles / stageEventsShuffled contract documents exactly
    * this: "deterministic, no reliance on a trailing no-data micro-batch").
    * A pipeline whose results DID depend on a trailing empty batch would
    * need it re-enabled — none of ours does, which the oracle gates.
    */
  def runAvailableNow(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete(),
      stateStoreProvider: Option[String] = None,
      shufflePartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val overrides =
      Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") ++
        stateStoreProvider.map("spark.sql.streaming.stateStore.providerClass" -> _) ++
        shufflePartitions.map("spark.sql.shuffle.partitions" -> _.toString)
    val prev = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }.toMap
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = df.writeStream
        .format("memory").queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    spark.table(name)
  }

  /** STATE-VOLUME-derived state-store count (r22, closes the r21 "hardcoded
    * 8 is fixture-sized" gap): stores sized so each holds roughly
    * `targetBytesPerStore` of state, floored at 8 (the measured toy-scale
    * commit-I/O optimum — every store pays per-batch commit I/O regardless
    * of rows) and capped at 4× cores (past that, store count stops buying
    * parallelism and only multiplies commits). `stateBytesEstimate` is an
    * upper-bound proxy for state volume — for the engine's replays the
    * input bytes ([[inputBytes]]) bound every state shape we run (LWW/dedup/
    * session state is at most one entry per input row; windowed-agg state is
    * far smaller). The estimate only needs to be monotone in volume and
    * right to an order of magnitude: an 8× error moves the count 8×, while
    * the floor and cap keep both ends sane.
    */
  def statePartitionsFor(spark: SparkSession, stateBytesEstimate: Long,
      targetBytesPerStore: Long = 64L << 20): Int = {
    val byVolume =
      math.ceil(stateBytesEstimate.toDouble / targetBytesPerStore.toDouble).toLong
    val cap = spark.sparkContext.defaultParallelism.toLong * 4
    math.max(8L, math.min(byVolume, cap)).toInt
  }

  /** Total bytes under `path` (file or directory, one FS listing) — the
    * input-volume proxy [[statePartitionsFor]] sizes against.
    */
  def inputBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .getContentSummary(p).getLength
  }

  /** [[statePartitionsFor]] over the input files at `path` — the default
    * sizing for a file replay whose state is proportional to (bounded by)
    * its input.
    */
  def statePartitionsForInput(spark: SparkSession, path: String): Int =
    statePartitionsFor(spark, inputBytes(spark, path))

  /** Streaming exact dedup: the set of distinct key tuples seen so far —
    * in-flight dedup for an ingest pipeline (state = one entry per distinct
    * tuple; with a watermark column in `cols` the state would age out —
    * unbounded here because batch-parity runs are finite). Projecting to
    * exactly the dedup columns keeps the result a deterministic SET:
    * `dropDuplicates` over wider rows would keep an arbitrary first arrival
    * per key, which no oracle could replay.
    */
  def distinctKeys(cells: DataFrame, cols: Seq[String]): DataFrame =
    cells.select(cols.map(col): _*).dropDuplicates(cols)

  // ------------------------------------------------- sessionization

  /** `eventTime` duplicates tsNanos as a timestamp: the watermark column
    * must survive into the stateful operator's input for event-time
    * timeouts to be allowed; the session logic itself reads only tsNanos.
    */
  case class SessionEvent(
      user_id: Long, event_id: Long, tsNanos: Long, eventTime: java.sql.Timestamp)
  case class SessionRow(
      user_id: Long, session_idx: Long, n_events: Long,
      start_us: Long, end_us: Long)

  /** The open session tail of one user: first/last event time and count. */
  case class OpenSession(start: Long, last: Long, n: Long)

  /** Per-user sessionization state: the next session index to assign and
    * the open tail (None right after a timeout flush).
    */
  case class SessState(nextIdx: Long, open: Option[OpenSession])

  /** Gap-based sessionization: a user's events split into sessions wherever
    * consecutive event times are more than `gapNanos` apart — the grouping
    * pass a behavioral-training pipeline runs before sampling
    * conversations/sessions. `flatMapGroupsWithState` is the custom-state
    * escape hatch (sessions are not expressible as watermarked windows:
    * boundaries depend on the data, not the clock).
    *
    * LIVE-STREAM semantics (state carries across micro-batches):
    *  - each invocation merges the batch's (sorted) events into the open
    *    tail, emits every session that an observed gap closes, and keeps the
    *    final run open in state;
    *  - an EVENT-TIME TIMEOUT is armed at `open.last + gap`: once the
    *    watermark passes that horizon no event can extend the session
    *    (later rows would be dropped as late), so the timeout invocation
    *    flushes it as final. An idle user's tail therefore emits while the
    *    stream keeps running — no end-of-stream needed.
    *  - requires a ZERO-DELAY watermark on the input's event-time column
    *    (enforced: a cross-batch regression `t < open.last` throws rather
    *    than silently mis-merging — correct handling of allowed lateness
    *    needs event buffering until the watermark, a different operator);
    *    gap splits observed inside a batch are final because any future row
    *    is ≥ the watermark the next batch enforces.
    *  - state retention: a flushed user keeps a tombstone `SessState(idx,
    *    None)` so session numbering stays GLOBAL per user (the batch
    *    oracle's semantics — and a user returning later genuinely continues
    *    at idx). An unbounded-churn production stream would cap this with a
    *    TTL and accept per-user renumbering after expiry; parity replays
    *    need the tombstone.
    *
    * A finite replay (Trigger.AvailableNow) terminates without the
    * watermark ever passing the last session's horizon; appending one
    * punctuation row per user past `max(ts) + gap` ([[stageSessionFiles]])
    * closes every real tail through the ordinary gap path, and the
    * punctuation rows' own open sessions are simply never emitted.
    */
  object Sessionize {
    def apply(events: Dataset[SessionEvent], gapNanos: Long): Dataset[SessionRow] = {
      import events.sparkSession.implicits._
      val gapMs = gapNanos / 1000000L
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState[SessState, SessionRow](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (user: Long, it: Iterator[SessionEvent], state: GroupState[SessState]) =>
            val st = state.getOption.getOrElse(SessState(0L, None))
            if (state.hasTimedOut) {
              // Watermark passed open.last + gap: the tail is final. Keep
              // nextIdx so a user who comes back continues numbering.
              val out = st.open.map(o =>
                SessionRow(user, st.nextIdx, o.n, o.start / 1000, o.last / 1000))
              state.update(SessState(st.nextIdx + out.size, None))
              out.iterator
            } else {
              // Sort once per key per batch: boundaries need time order.
              val evs = it.map(e => (e.tsNanos, e.event_id)).toArray.sorted
              val out = List.newBuilder[SessionRow]
              var idx = st.nextIdx
              var open = st.open
              evs.foreach { case (t, _) =>
                open match {
                  case Some(o) if t < o.last =>
                    // A not-late event BEHIND the open tail means the input
                    // watermark allows lateness — merging it would corrupt
                    // start/n and skip gap re-checks. Fail loudly; this
                    // operator's contract is a zero-delay watermark.
                    throw new IllegalStateException(
                      s"Sessionize: out-of-order event for user $user " +
                        s"($t < open tail ${o.last}); a zero-delay watermark is required")
                  case Some(o) if t - o.last > gapNanos =>
                    out += SessionRow(user, idx, o.n, o.start / 1000, o.last / 1000)
                    idx += 1
                    open = Some(OpenSession(t, t, 1))
                  case Some(o) =>
                    open = Some(OpenSession(o.start, t, o.n + 1))
                  case None =>
                    open = Some(OpenSession(t, t, 1))
                }
              }
              state.update(SessState(idx, open))
              // Arm the flush horizon (ms; +1 so `watermark == horizon`
              // does not fire while an equal-ts event could still arrive).
              open.foreach(o =>
                state.setTimeoutTimestamp(o.last / 1000000L + gapMs + 1))
              out.result().iterator
            }
        }
    }
  }

  /** Per-user state of the allowed-lateness sessionizer: next session index
    * and the time-sorted buffer of not-yet-final event times.
    */
  case class LateState(nextIdx: Long, buf: Array[Long])

  /** Gap-based sessionization that tolerates OUT-OF-ORDER input up to the
    * input watermark's allowed lateness — the production counterpart of
    * [[Sessionize]] (which demands a zero-delay watermark and fails loudly
    * on regressions). Real streams are out of order; this operator buffers.
    *
    * Mechanics per user:
    *  - every arriving event's time goes into a sorted BUFFER held in state
    *    (nothing is emitted on arrival — a later-but-earlier event within
    *    the lateness bound could still merge or split runs);
    *  - a session (maximal gap-delimited run of the buffer) becomes FINAL
    *    exactly when `last + gap < watermark`: the stateful operator drops
    *    pre-watermark rows (event-time timeout mode), so no future arrival
    *    can fall within `gap` of that run's end. Final sessions are a
    *    PREFIX of the time-sorted runs (runs are disjoint and ordered), so
    *    they emit in index order and their events leave the buffer;
    *  - an event-time timeout is armed at `bufLast + gap` past the
    *    watermark, so an idle user's tail flushes while the stream runs —
    *    same liveness contract as [[Sessionize]];
    *  - state keeps the `nextIdx` tombstone after a full flush: numbering
    *    stays global per user, matching the batch oracle.
    *
    * State is O(events inside the lateness horizon + one open tail) per
    * user — the price of lateness is exactly the buffer the bound implies.
    */
  object SessionizeLate {
    def apply(events: Dataset[SessionEvent], gapNanos: Long): Dataset[SessionRow] = {
      import events.sparkSession.implicits._
      val gapMs = gapNanos / 1000000L
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState[LateState, SessionRow](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (user: Long, it: Iterator[SessionEvent], state: GroupState[LateState]) =>
            val st = state.getOption.getOrElse(LateState(0L, Array.empty[Long]))
            val buf =
              if (state.hasTimedOut) st.buf
              else {
                val m = st.buf ++ it.map(_.tsNanos)
                java.util.Arrays.sort(m)
                m
              }
            // Watermark floor in nanos: every future arrival is >= this (the
            // operator filters older rows), which is what makes a session
            // ending more than `gap` below it immutable.
            val wmNanos = state.getCurrentWatermarkMs() * 1000000L
            val out = List.newBuilder[SessionRow]
            var idx = st.nextIdx
            var i = 0
            var open = true
            while (i < buf.length && open) {
              var j = i + 1
              while (j < buf.length && buf(j) - buf(j - 1) <= gapNanos) j += 1
              if (buf(j - 1) + gapNanos < wmNanos) {
                out += SessionRow(user, idx, (j - i).toLong, buf(i) / 1000, buf(j - 1) / 1000)
                idx += 1
                i = j
              } else open = false
            }
            val rest = if (i == 0) buf else java.util.Arrays.copyOfRange(buf, i, buf.length)
            state.update(LateState(idx, rest))
            if (rest.nonEmpty) {
              val horizon = rest.last / 1000000L + gapMs + 1
              state.setTimeoutTimestamp(math.max(horizon, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
        }
    }
  }

  /** Shared staging machinery for the multi-file replay sources: one job
    * writes disjoint time-range chunks (part-file index == range index),
    * the chunk files (optionally with adjacent ranges SWAPPED into
    * 1,0,3,2,… order to stage an out-of-order replay) plus punctuation
    * files are moved into the stream directory with strictly ascending
    * modification times (FileStreamSource replays in mtime order — a
    * filesystem that rejects mtimes would silently reorder the replay, so
    * that fails loudly), and every temp directory is cleaned up: the
    * intermediate write dirs immediately, the staged dir itself on JVM
    * exit (recursively — `deleteOnExit` alone cannot remove a non-empty
    * directory, which used to leak a corpus copy per bench rep).
    */
  private object Staging {
    import java.nio.file.{Files, Path, StandardCopyOption}

    private val exitDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitDirs.forEach(d => deleteRecursive(d.toFile))))

    private def deleteRecursive(f: java.io.File): Unit = {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursive)
      f.delete(): Unit
    }

    private def partsOf(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

    /** Write `chunks` range-partitioned on `tsCol`, then assemble the
      * stream dir from (optionally swapped) chunk files + `punct` waves.
      */
    def assemble(prefix: String, events: DataFrame, tsCol: String, nChunks: Int,
        swap: Boolean, punct: Seq[DataFrame]): String = {
      val dir = Files.createTempDirectory(prefix)
      exitDirs.add(dir)
      val tmp = Files.createTempDirectory(prefix + "chunks_")
      events.repartitionByRange(nChunks, col(tsCol))
        .write.mode("overwrite").parquet(tmp.toString)
      val punctDirs = punct.zipWithIndex.map { case (df, i) =>
        val d = Files.createTempDirectory(prefix + s"punct${i}_")
        df.coalesce(1).write.mode("overwrite").parquet(d.toString)
        d
      }
      val ranges = partsOf(tmp.toString)
      // swap adjacent range files: 1,0,3,2,... (an odd tail keeps its place)
      val ordered =
        if (swap) ranges.indices.map { i =>
          if (i % 2 == 0) ranges(math.min(i + 1, ranges.length - 1)) else ranges(i - 1)
        }.distinct
        else ranges.toSeq
      val parts = ordered ++ punctDirs.flatMap(d => partsOf(d.toString))
      val t0 = System.currentTimeMillis()
      parts.zipWithIndex.foreach { case (part, i) =>
        val target = dir.resolve(f"chunk$i%03d.parquet")
        Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
        require(target.toFile.setLastModified(t0 + i * 60000L),
          s"staging: cannot set modification time on $target")
      }
      (tmp +: punctDirs).foreach(d => deleteRecursive(d.toFile))
      dir.toString
    }
  }

  /** Stage a (user_id, event_id, tsNanos) relation as an event-time-ordered
    * multi-file stream directory: `nChunks` disjoint time-range files
    * replayed as separate micro-batches in event-time order, plus one
    * punctuation file carrying a single `event_id = -1` row per user at
    * `max(ts) + gap + 1` — the standard source-driven flush that closes
    * every open session tail when a finite replay ends.
    */
  def stageSessionFiles(events: DataFrame, nChunks: Int, gapNanos: Long): String = {
    val hiRow = events.agg(max(col("tsNanos"))).collect()(0)
    require(!hiRow.isNullAt(0), "stageSessionFiles: events relation is empty")
    val hi = hiRow.getLong(0)
    Staging.assemble("graft_sessions_", events, "tsNanos", nChunks, swap = false,
      Seq(sessionPunct(events, hi + gapNanos + 1)))
  }

  private def sessionPunct(events: DataFrame, ts: Long): DataFrame =
    events.select(col("user_id")).distinct()
      .select(col("user_id"), lit(-1L).as("event_id"), lit(ts).as("tsNanos"))

  /** Stage the same relation as an OUT-OF-EVENT-TIME-ORDER multi-file
    * stream: adjacent time-range chunks are swapped in replay order
    * (1,0,3,2,…), so every micro-batch after the first delivers events
    * EARLIER than ones already seen — the disorder [[SessionizeLate]]
    * exists to absorb. Returns `(dir, lateNanos)` where `lateNanos` (the
    * full event-time span) is the allowed-lateness bound the reader's
    * watermark must carry so no staged event is dropped as late.
    *
    * Replay-end flush is source-driven and needs TWO punctuation waves
    * (each one `event_id = -1` row per user) past `max(ts) + gap + late`:
    * the first advances the watermark beyond every real session's flush
    * horizon, the second triggers a per-user invocation under that
    * watermark so the finals emit in the data path — deterministic, no
    * reliance on a trailing no-data micro-batch. The punctuation rows' own
    * buffered tails are never emitted.
    */
  def stageSessionFilesShuffled(
      events: DataFrame, nChunks: Int, gapNanos: Long): (String, Long) = {
    val mm = events.agg(min(col("tsNanos")), max(col("tsNanos"))).collect()(0)
    require(!mm.isNullAt(1), "stageSessionFilesShuffled: events relation is empty")
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val lateNanos = hi - lo + 1
    val p1 = hi + gapNanos + lateNanos + 10000000L // 10 ms past every horizon
    val dir = Staging.assemble("graft_sessions_late_", events, "tsNanos", nChunks,
      swap = true,
      Seq(sessionPunct(events, p1), sessionPunct(events, p1 + 1000000L)))
    (dir, lateNanos)
  }

  /** Stage the RAW events relation (EventsParquetSchema) as an
    * out-of-event-time-order stream for the windowed pivot: adjacent
    * time-range chunks swapped, plus two single-row punctuation waves at
    * `max(ts) + horizon + late` whose only job is to advance the watermark
    * past every real window's emission horizon. Punctuation carries a REAL
    * qualifier (`punctType`) — a sentinel type would be pushed below the
    * EventTimeWatermark node into the scan and never counted — and stays
    * invisible in the output because its own window lies beyond the final
    * watermark, so Append mode never finalizes it. Returns
    * `(dir, lateNanos)`; the reader's watermark must cover `lateNanos`.
    */
  /** Stage the RAW events relation as an event-time-ORDERED multi-file
    * stream (`nChunks` disjoint time-range files, replayed one per trigger,
    * no punctuation): the replay harness for operators whose emission is
    * data-driven rather than watermark-driven — a stream-stream INNER join
    * emits each pair the micro-batch both sides have arrived, so no flush
    * wave is needed to drain it at end of replay.
    */
  def stageEventsOrdered(events: DataFrame, nChunks: Int): String =
    Staging.assemble("graft_join_", events, "ts", nChunks, swap = false, Seq.empty)

  /** Stream-stream event-time interval join: each click matched to every
    * purchase by the same user with `purchaseTime` inside
    * `[clickTime, clickTime + maxGap]` — the attribution-join shape.
    *
    * State is BOUNDED by construction: the interval condition plus the two
    * watermarks hand Spark an eviction rule for both sides (a click leaves
    * state once the global watermark passes `clickTime + maxGap`; a
    * purchase as soon as it passes `purchaseTime`), so steady-state size is
    * input-rate × (maxGap + delay), independent of stream length. Under
    * time-ordered replay a source's watermark can never overtake events
    * that haven't arrived, so ANY non-negative delay keeps the join exact —
    * the tight default maximizes eviction, it does not trade correctness.
    * Inner-join emission is data-driven (no watermark latency): rows appear
    * in the micro-batch where the later side arrives.
    */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame,
      maxGap: String = "4 hours", watermark: String = "1 second"): DataFrame = {
    val a = clicks.select(col("event_id").as("click_id"), col("user_id"),
        expr("timestamp_micros(ts DIV 1000)").as("clickTime"))
      .withWatermark("clickTime", watermark)
    val b = purchases.select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("value"),
        expr("timestamp_micros(ts DIV 1000)").as("purchaseTime"))
      .withWatermark("purchaseTime", watermark)
    a.join(b,
        col("user_id") === col("p_user_id") &&
          col("purchaseTime") >= col("clickTime") &&
          col("purchaseTime") <= col("clickTime") + expr(s"INTERVAL $maxGap"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("clickTime")).as("click_us"),
        unix_micros(col("purchaseTime")).as("purchase_us"),
        floor(col("value") * 100).cast("long").as("val_x100"))
  }

  def stageEventsShuffled(events: DataFrame, nChunks: Int,
      horizonNanos: Long, punctType: String = "click"): (String, Long) = {
    val mm = events.agg(min(col("ts")), max(col("ts"))).collect()(0)
    require(!mm.isNullAt(1), "stageEventsShuffled: events relation is empty")
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val lateNanos = hi - lo + 1
    val p1 = hi + horizonNanos + lateNanos + 10000000L
    def punctRow(ts: Long): DataFrame =
      events.sparkSession.range(1).selectExpr(
        "CAST(-1 AS BIGINT) AS event_id", s"CAST($ts AS BIGINT) AS ts",
        "CAST(-1 AS BIGINT) AS user_id", s"'$punctType' AS event_type",
        "CAST(0.0 AS DOUBLE) AS value", "'' AS props")
    val dir = Staging.assemble("graft_pivot_late_", events, "ts", nChunks,
      swap = true, Seq(punctRow(p1), punctRow(p1 + 1000000L)))
    (dir, lateNanos)
  }

  // ------------------------------------------------- custom state (memstore)

  case class CellEvent(rowKey: String, qualifier: String, value: String, cellTs: Long)

  /** Latest cell per qualifier for one rowKey — the memstore row. `version`
    * counts state updates for this key: strictly increasing per key across
    * batches, so downstream consumers of an update-mode sink (which appends
    * one snapshot per key per batch) can pick the newest snapshot
    * deterministically — `lastTs` alone cannot (a late cell for another
    * qualifier changes content without raising the max ts).
    */
  case class RowSnapshot(
      rowKey: String, qualifiers: Map[String, String], lastTs: Long, version: Long)

  /** One retained version of a cell: decoded value + its timestamp. */
  case class CellVersion(value: String, ts: Long)

  /** One rowKey's retained history: per qualifier the newest k versions
    * (newest first). `version` counts state updates, like [[RowSnapshot]].
    */
  case class VersionedSnapshot(
      rowKey: String, cells: Map[String, Seq[CellVersion]], version: Long)

  /** The HBase memstore WITH version retention — the store really holds
    * multiple versions per cell until compaction, not just the newest:
    * each arriving cell insert-sorts into its qualifier's history, which
    * is trimmed to the newest `k` ([[graft.ops.KvPivot.retainVersions]] is
    * the batch/compaction counterpart of the same retention rule). Ties on
    * equal ts break by value ascending, matching the batch oracle's
    * deterministic rank — so on a tie its newest version is not
    * [[LatestCells]]'s winner, which follows the pivot's winner test.
    */
  object VersionedCells {

    type State = (Long, Map[String, List[CellVersion]])

    def apply(cells: Dataset[CellEvent], k: Int): Dataset[VersionedSnapshot] = {
      import cells.sparkSession.implicits._
      cells.groupByKey(_.rowKey)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
          (key: String, it: Iterator[CellEvent], state: GroupState[State]) =>
            val (ver, prev) =
              state.getOption.getOrElse((0L, Map.empty[String, List[CellVersion]]))
            val next = it.foldLeft(prev) { (m, e) =>
              val merged = (CellVersion(e.value, e.cellTs) :: m.getOrElse(e.qualifier, Nil))
                .sortBy(v => (-v.ts, v.value)).take(k)
              m.updated(e.qualifier, merged)
            }
            state.update((ver + 1, next))
            VersionedSnapshot(key, next.view.mapValues(_.toSeq).toMap, ver + 1)
        }
    }
  }

  object LatestCells {

    type State = (Long, Map[String, (String, Long)]) // (version, cells)

    /** LWW merge of new cells into the per-key state, by the batch pivot's
      * winner test on the values' UTF-8 bytes.
      */
    def update(
        key: String,
        events: Iterator[CellEvent],
        state: GroupState[State]): RowSnapshot = {
      val (version, prev) = state.getOption.getOrElse((0L, Map.empty[String, (String, Long)]))
      def utf8(v: String) = if (v == null) null else v.getBytes("UTF-8")
      val next = events.foldLeft(prev) { (m, e) =>
        val held = m.get(e.qualifier)
        val (hv, hts) = held.getOrElse((null, 0L))
        if (graft.functions.MaxByTsAgg.wins(
            e.cellTs, utf8(e.value), held.isDefined, hts, utf8(hv)))
          m.updated(e.qualifier, (e.value, e.cellTs))
        else m
      }
      state.update((version + 1, next))
      RowSnapshot(key, next.map { case (q, (v, _)) => q -> v },
        if (next.isEmpty) 0L else next.values.map(_._2).max, version + 1)
    }

    /** The streaming memstore: one snapshot row per rowKey per batch. */
    def apply(cells: Dataset[CellEvent]): Dataset[RowSnapshot] = {
      import cells.sparkSession.implicits._
      cells.groupByKey(_.rowKey)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout())(
          (k: String, it: Iterator[CellEvent], s: GroupState[State]) =>
            update(k, it, s))
    }
  }
}
