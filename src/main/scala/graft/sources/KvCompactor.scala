package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** COMPACTION for `graft-kv` tables — the HBase compaction cycle the write
  * path implies (CreateTable.java:28,56-57 sizes regions at 100 GB under
  * `ConstantSizeRegionSplitPolicy`; memstore flushes — our streaming epochs
  * — pile up small HFiles until a compaction merges them): a long-tailed
  * streaming sink seals one small segment set per epoch forever, so without
  * compaction a table's file count grows without bound and every scan pays
  * O(all epochs) open costs.
  *
  * The merge itself is the ENGINE's own write path: read the mergeable
  * segments, write them back through the `graft-kv` sink — [[KvWrite]]'s
  * `RequiresDistributionAndOrdering` re-range-partitions on rowKey into
  * `regions` files sorted by (rowKey, qualifier), i.e. the merged output is
  * by construction the bulk-load layout. At scale the merge shuffles the
  * merged bytes ONCE, amortized against every later scan opening `regions`
  * files instead of epochs × regions.
  *
  * Tail gating — the HBase WAL-cleanup / replication-peer contract, which
  * also makes compaction PARTIAL: a REGISTERED tail ([[KvTailStream]]
  * `tailId` option) records the log seq below which it is durably
  * committed, and because Spark acknowledges a batch's source commit while
  * running the NEXT batch, a live tail's mark structurally trails the log
  * end — compaction must never wait for marks to pass the tip (they only do
  * while data flows). Instead it merges ONLY segments attributed below the
  * gating floor `min(tail marks)` and CARRIES newer entries' files into the
  * checkpoint entry unmerged: tails at or above the floor keep replaying
  * from the original segments, fresh tails start from the checkpoint's
  * complete live set, and nothing ever waits on an idle pipeline. With no
  * registered tails the floor is the log end and compaction is the full
  * major pass ([[KvLog.floor]] == horizon).
  *
  * Publish protocol (all-or-nothing against [[KvLog]]):
  *  1. stage the merged files in a scratch dir under the table (invisible:
  *     manifest readers plan from the log, and the name filter skips it),
  *  2. rename them in as `part-c<seq>-<region>.parquet` keyed by the
  *     PRE-ALLOCATED seq,
  *  3. append ONE `compact` entry — adds = merged + carried (the complete
  *     live set, making the entry a log CHECKPOINT), removes = every
  *     merged-away segment, floor = the gating floor; `expectSeq` detects
  *     a concurrently moved log pre-publish, on which the publish loop
  *     REBASES over interleaved pure appends (their files join the
  *     checkpoint; the staged merge is untouched) and aborts only when an
  *     interleaved commit removed files,
  *  4. delete ONLY the (now empty) scratch dir. The merged-away segments
  *     are NOT deleted here: manifest readers planned from here on never
  *     see them, but an in-flight scan planned pre-publish may still hold
  *     their paths — physical reclamation is [[KvVacuum]]'s job, whose
  *     grace period runs from this entry's publish time
  *     ([[KvLog.removalTimes]]), giving every pre-publish reader a full
  *     grace window to finish (the Delta OPTIMIZE/VACUUM split). A crash
  *     at any earlier step leaves stray files no manifest entry references
  *     — invisible to every reader, reclaimed by the same vacuum pass.
  */
object KvCompactor {

  /** WHICH segments below the gating floor a pass merges — the HBase
    * minor/major distinction, which is what bounds WRITE AMPLIFICATION on
    * a long-lived table: a pass that always rewrites the entire live set
    * (major) pays O(table) bytes per trigger, so steady streaming ingest
    * (one sealed epoch per trigger) would rewrite 100 TB every few epochs.
    * Size-tiered minor selection instead merges only a cohort of
    * SIMILAR-SIZED segments, so each byte is rewritten O(log table/epoch)
    * times over its lifetime — the LSM amortization argument.
    */
  sealed trait Selection
  /** Merge EVERYTHING below the gating floor — the full rewrite that
    * restores the minimal region layout (floor == horizon afterwards).
    * Operator-scheduled, like an HBase admin's explicit major_compact.
    */
  case object Major extends Selection
  /** Size-tiered minor selection (the `ExploringCompactionPolicy` shape):
    * among all windows of 2..`maxMerge` segments CONTIGUOUS IN SIZE ORDER,
    * pick one where the largest member is at most `sizeRatio` × the sum of
    * the others (no member is merged just to absorb far-smaller siblings —
    * that rewrite would be nearly all dead weight), preferring the window
    * with the most files, then the fewest bytes. No valid window ⇒ the
    * pass parks: segment sizes are geometric (already tiered) and
    * rewriting now would only inflate write amplification. Defaults mirror
    * HBase (`hbase.hstore.compaction.max` = 10, ratio 1.2).
    */
  final case class Minor(maxMerge: Int = 10, sizeRatio: Double = 1.2)
      extends Selection {
    require(maxMerge >= 2, "graft-kv compaction: Minor.maxMerge must be >= 2")
    require(sizeRatio >= 1.0,
      "graft-kv compaction: Minor.sizeRatio must be >= 1.0")
  }
  /** REGION SPLIT — the other half of `ConstantSizeRegionSplitPolicy`
    * (CreateTable.java:28's sizing): [[Minor]] merges cohorts of SMALL
    * segments but never touches a single far-oversized one (a region file
    * sealed by one giant batch, or a legacy-seeded monolith), so without a
    * split such a region grows without bound and every scan of its key
    * range stays one task forever. This selection picks the single largest
    * live segment at or past `minBytes` and rewrites JUST IT through the
    * range-sorted sink into target-sized pieces — O(region) bytes, never
    * O(table) — published as an ordinary compact entry (adds = pieces +
    * carried, removes = the monolith). Parks when no segment qualifies.
    * One split per pass, like an HBase region server's split check: the
    * maintenance cadence absorbs multi-region normalization.
    */
  final case class SplitOversized(minBytes: Long) extends Selection {
    require(minBytes > 0,
      "graft-kv compaction: SplitOversized.minBytes must be positive")
  }

  /** CELL-LEVEL garbage collection applied DURING the merge rewrite — the
    * HBase compaction-scanner semantics (TTL and `VERSIONS => k` are
    * enforced while store files are rewritten, the only place dead cells
    * can physically disappear): the merge is reading and rewriting every
    * merged byte anyway, so dropping dead cells there is free — without
    * it, expired data is immortal and a 100-TB table only ever grows.
    *
    *  - `dropBelowTs` — cells with `ts` strictly below this watermark are
    *    dropped (HBase TTL, with the caller computing `now - ttl` so the
    *    engine never interprets ts as wall-clock — cell timestamps here
    *    are caller-defined, exactly like HBase's default-but-overridable
    *    epoch millis).
    *  - `maxVersions` — per (rowKey, qualifier), keep only the newest k
    *    versions AMONG THE MERGED FILES (ts desc, value asc tie-break —
    *    the `kv_versions_retain` order). Like HBase, a minor pass may
    *    retain extra versions living in files outside the merge; a
    *    [[Major]] pass enforces the bound exactly.
    *
    * Enforcement never touches carried (unmerged) files — their bytes are
    * not being rewritten, so their dead cells wait for their tier's turn,
    * the same amortization the merge itself follows.
    */
  final case class CellPolicy(
      dropBelowTs: Option[Long] = None,
      maxVersions: Option[Int] = None) {
    maxVersions.foreach(k => require(k >= 1,
      "graft-kv compaction: maxVersions must be >= 1"))
    def isNoop: Boolean = dropBelowTs.isEmpty && maxVersions.isEmpty
  }

  sealed trait Result
  /** Compaction published at log `seq`: `merged` segments → `into` files.
    * `dropped` counts the cells a retention [[CellPolicy]] physically
    * removed during the rewrite (0 for plain merges AND for policy
    * passes that expired nothing — only a positive count marks the
    * entry content-dropping and publishes drop-record files).
    */
  case class Compacted(seq: Long, merged: Int, into: Int,
      dropped: Long = 0L) extends Result
  /** Compaction did not run; `reason` says why (not an error — parking on
    * tail progress or an already-compact table is the normal idle state).
    */
  case class Parked(reason: String) extends Result
  /** Compaction STAGED a merge but could not publish it: a concurrent
    * commit removed files (another compaction/clone-restore) so the staged
    * checkpoint may reference merged-away inputs, and the pass discarded
    * its outputs rather than publish a corrupt live set. Retryable — the
    * next pass plans from the winner's log.
    */
  case class Aborted(reason: String) extends Result

  /** Compact with a FIXED output region count (the CompactTable CLI shape). */
  def compact(spark: SparkSession, path: String, regions: Int,
      selection: Selection = Major,
      cellPolicy: CellPolicy = CellPolicy(),
      codec: Option[String] = None): Result = {
    require(regions > 0, "graft-kv compaction: regions must be positive")
    run(spark, path, _ => regions, selection, cellPolicy, codec)
  }

  /** Compact with output regions SIZED from the merged bytes —
    * `ceil(merged bytes / targetRegionBytes)`, the
    * ConstantSizeRegionSplitPolicy analog (CreateTable.java:28's 100 GB
    * sizing): a tier that merged more bytes gets more output regions,
    * never an ever-fatter fixed count. The policy pass ([[KvMaintenance]])
    * routes here so minor tiers produce tier-sized outputs.
    */
  def compactTo(spark: SparkSession, path: String, targetRegionBytes: Long,
      selection: Selection = Major,
      cellPolicy: CellPolicy = CellPolicy(),
      codec: Option[String] = None): Result = {
    require(targetRegionBytes > 0,
      "graft-kv compaction: targetRegionBytes must be positive")
    run(spark, path, bytes => math.max(1L,
      (bytes + targetRegionBytes - 1) / targetRegionBytes).toInt, selection,
      cellPolicy, codec)
  }

  private def run(spark: SparkSession, path: String, regionsFor: Long => Int,
      selection: Selection, cellPolicy: CellPolicy = CellPolicy(),
      codec: Option[String] = None): Result = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return Parked(s"no table at $path")
    KvLog.seedFromDirIfNeeded(fs, dir) // legacy table: manifest first
    // ONE resolution: the seq this pass publishes after and the live set
    // it merges come from the same version.
    val version = KvLog.live(fs, dir)
    val latest = version.seq
    if (latest < 0) return Parked("empty table: nothing to compact")
    val marks = KvLog.tailPositions(fs, dir)
    // The gating floor: merge strictly below the slowest registered tail;
    // with none registered, below the log end + 1 (the whole live set is
    // fair game — selection then decides how much of it to touch).
    val gate = if (marks.isEmpty) latest + 1 else marks.values.min
    val live = version.files.map(f => (f.name, f.seq))
    // Idempotence park: when the log tip IS a compaction entry and every
    // live segment is one of ITS merge outputs, a re-run would only
    // re-merge the previous pass's own outputs — a pure rewrite with no
    // layout debt retired. (Floor alone can't detect this: a minor pass
    // that merged a tier reaching the tip also writes floor == latest
    // while plenty of carried segments still await their turn.)
    // (A split is exempt: dividing a PREVIOUS compaction's oversized
    // output is exactly its job, and its own outputs are target-sized so
    // it cannot re-trigger on them.)
    // A non-noop CellPolicy under an explicit Major makes even a
    // single-segment (or just-compacted) rewrite MEANINGFUL — the HBase
    // force-major shape: TTL/version enforcement IS the rewrite, with or
    // without anything to merge. Minor tiers keep the amortized contract
    // (policy applies when a tier merges anyway), so a maintain-loop with
    // a declared ttl never degenerates into rewriting the table per pass.
    val policyForced = selection == Major && !cellPolicy.isNoop
    if (!selection.isInstanceOf[SplitOversized] && !policyForced &&
        KvLog.horizon(fs, dir) == latest && gate > latest &&
        live.forall(_._1.startsWith(f"part-c$latest%010d-")))
      return Parked(s"already compacted at seq $latest")
    val (candidates, gatedCarry) = live.partition(_._2 < gate)
    // A merge needs >= 2 inputs; a split (or a policy-forced major
    // rewrite) accepts exactly 1.
    val minInputs = selection match {
      case _: SplitOversized => 1
      case _ => if (policyForced) 1 else 2
    }
    if (candidates.size < minInputs)
      return Parked(
        if (marks.isEmpty) "nothing to merge: fewer than 2 compactable segments"
        else s"registered tails gate compaction below seq $gate: " +
          marks.toSeq.sorted.map { case (id, m) => s"$id@$m" }.mkString(", "))
    // Sizes come from the manifest stats where recorded; a driver-side
    // getFileStatus covers stat-less legacy entries — bounded region
    // metadata either way.
    val liveStats = version.stats
    val sized = candidates.map { case (f, s) =>
      (f, s, liveStats.get(f).map(_.bytes)
        .getOrElse(fs.getFileStatus(new Path(dir, f)).getLen)) }
    val mergeSet = selection match {
      case Major => sized
      case m: Minor => selectTier(sized, m)
      case s: SplitOversized =>
        sized.filter(_._3 >= s.minBytes).sortBy(-_._3).take(1)
    }
    if (mergeSet.size < minInputs)
      return Parked(selection match {
        case s: SplitOversized =>
          s"no oversized region: largest candidate is under ${s.minBytes} bytes"
        case _ =>
          s"no size tier to merge: ${candidates.size} candidate " +
            "segments have geometric sizes (rewriting a far-larger segment to " +
            "absorb a smaller one is write amplification, not maintenance)"
      })
    val mergeNames = mergeSet.map(_._1).toSet
    val carrySet = candidates.collect {
      case (f, _) if !mergeNames.contains(f) => f } ++ gatedCarry.map(_._1)
    val regions = regionsFor(mergeSet.map(_._3).sum)
    if (selection.isInstanceOf[SplitOversized] &&
        mergeSet.size == 1 && regions < 2)
      return Parked("split would produce a single region: nothing to divide")

    val expectSeq = latest + 1
    val tmp = new Path(dir, s"_compact_${UUID.randomUUID().toString.take(8)}")
    val cellCols = graft.kv.Cell.schema.fieldNames.map(org.apache.spark.sql.functions.col)
    var mergeDf = spark.read.parquet(mergeSet.map(f => s"$path/${f._1}"): _*)
      .select(cellCols.toIndexedSeq: _*)
    // DELETE-MARKER application ([[KvDelete]]) — the HBase
    // compaction-scanner semantics, and the one place masked bytes
    // physically disappear: masked puts among the merged files are
    // dropped during the rewrite, and the markers themselves are PURGED
    // when the merge covers the complete live set (a major pass — nothing
    // outside could still hold maskable cells) or compacted to the newest
    // marker per coordinate and carried when files remain outside the
    // merge (minor/gated passes — the HBase rule that delete markers
    // survive until a major compaction). Gated on the manifest's exact
    // tombstone stats: marker-free merges pay nothing.
    val mergeHasTombstones = mergeSet.exists { case (f, _, _) =>
      liveStats.get(f).exists(_.tombstones > 0) }
    var retainedMarkers: Option[org.apache.spark.sql.DataFrame] = None
    if (mergeHasTombstones) {
      val (survivors, compactedMarkers) = KvDelete.applyMarkers(mergeDf)
      mergeDf = survivors
      if (carrySet.nonEmpty) retainedMarkers = Some(compactedMarkers)
    }
    // Cell GC rides the rewrite ([[CellPolicy]]): TTL is a codegen'd
    // filter fused into the scan; the versions bound is one extra
    // (rowKey, qualifier) exchange on the already-rare compact path —
    // row_number with the kv_versions_retain tie-break, so the retained
    // set is deterministic under version-stack ties. Both apply to PUTS
    // only — retained markers are appended after and exempt (dropping an
    // old marker by TTL would unmask carried cells it still covers).
    // The KEEP flag is computed once and the frame split two ways: the
    // keepers feed the merge rewrite, the dropped cells feed the
    // DROP-RECORD side files (CDC visibility — doc at the staging site
    // below). Ranking orders TTL-survivors first, so a keeper's rank
    // among survivors matches the old filter-then-rank semantics
    // exactly. The sort is made TOTAL over distinct cells (family as
    // the final tie-break — it is not a window key, per the documented
    // (rowKey, qualifier) version-stack semantics): the keep side and
    // the drop side are TWO independent jobs recomputing this window,
    // so a non-total order could rank (ts, value)-tied cells of
    // different families differently across the two runs and publish a
    // drop record naming a cell the table kept. Fully identical cells
    // remain interchangeable — either copy is the same bytes.
    var dropRecords: Option[org.apache.spark.sql.DataFrame] = None
    if (!cellPolicy.isNoop) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, concat, lag, lit, row_number, struct}
      val ttlKeep = cellPolicy.dropBelowTs.fold(lit(true))(t => col("ts") >= t)
      val flagged = cellPolicy.maxVersions match {
        case Some(k) =>
          // BYTE-IDENTICAL duplicates are collapsed BEFORE the versions
          // ranking: drop records match value-aware on all five fields
          // ([[KvDelete.applyVersionMarkers]] removes EVERY identical
          // copy), so two identical cells straddling the keep boundary
          // (ranks k and k+1) would otherwise publish a drop record that
          // also names the retained copy — a CDC consumer or replica
          // would then lose a version the source still serves (with
          // maxVersions=1 the coordinate's newest version disappears
          // entirely). Collapsing first is sound because multiplicity
          // of identical cells is unobservable (LWW, version-history and
          // feed consumers all see the same bytes), and it guarantees a
          // version is either wholly kept or wholly dropped. TTL-only
          // policies skip this: identical cells share a ts, so the TTL
          // boundary cannot split them. The collapse rides the SAME
          // window as the ranking (equal sort keys within a partition
          // ARE identical cells, so copies sit adjacent and a lag
          // compare marks every copy after the first) — a
          // dropDuplicates here would add a second exchange; lag +
          // filter + row_number reuse the one (rowKey, qualifier)
          // exchange, the filter preserving both its partitioning and
          // its order.
          val w = Window.partitionBy("rowKey", "qualifier")
            .orderBy(col("_tk").desc, col("ts").desc, col("value").asc,
              col("family").asc)
          mergeDf.withColumn("_tk", ttlKeep)
            .withColumn("_dup",
              lag(struct(col("family"), col("ts"), col("value")), 1).over(w)
                <=> struct(col("family"), col("ts"), col("value")))
            .filter(!col("_dup"))
            .withColumn("_vn", row_number().over(w))
            .withColumn("_keep", col("_tk") && col("_vn") <= k)
            .drop("_tk", "_dup", "_vn")
        case None => mergeDf.withColumn("_keep", ttlKeep)
      }
      dropRecords = Some(flagged.filter(!col("_keep"))
        .select(col("rowKey"), col("family"),
          concat(lit(KvDelete.VersionMarkerPrefix), col("qualifier"))
            .as("qualifier"), col("value"), col("ts")))
      mergeDf = flagged.filter(col("_keep")).drop("_keep")
    }
    retainedMarkers.foreach { m => mergeDf = mergeDf.unionByName(m) }
    // Re-CODEC rides the rewrite like cell GC does: compaction is the one
    // place merged bytes are rewritten anyway, so changing the table's
    // compression (e.g. snappy ingest -> zstd at rest) is free here and
    // prohibitive anywhere else.
    val scratchWriter = codec.foldLeft(
      mergeDf.write.format("graft-kv").option("regions", regions)
        .option("allowTombstones", mergeHasTombstones.toString))(
      (w, c) => w.option("codec", c))
    scratchWriter.mode("overwrite").save(tmp.toString)
    // RETENTION DROP RECORDS — the CDC-visibility half of the policy
    // (the Delta CDF delete-row shape): the dropped coordinates are
    // staged as exact-version delete markers
    // ([[KvDelete.VersionMarkerPrefix]]-qualified cells carrying the
    // dropped cell's own family / value / ts) into side files the
    // publish references (`!` manifest lines), so a change feed crossing
    // this entry SHIPS the drops instead of refusing and incremental
    // consumers (index refresh, CDC spans) stay O(changes). Counted by
    // an Observation on the same write job; a policy pass that dropped
    // NOTHING publishes a plain merge — no drop flag, no files — so
    // declared-policy maintenance never poisons CDC spans it didn't
    // change. This is a SECOND read of the merged bytes (negated keep
    // flag), paid only on the rare policy-compact path; the drop side is
    // coalesced to the output region count so a mostly-expired tier
    // still writes bounded files.
    var dropsPub = Seq.empty[(String, KvLog.FileStat)]
    var droppedCount = 0L
    dropRecords.foreach { dr =>
      val dropTmp = new Path(tmp, "_drops")
      val obs = org.apache.spark.sql.Observation()
      dr.coalesce(math.max(1, regions))
        .observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .write.mode("overwrite").parquet(dropTmp.toString)
      droppedCount = obs.get("n").asInstanceOf[Long]
      if (droppedCount > 0) {
        val staged = fs.listStatus(dropTmp).toSeq
          .filter(st => st.getPath.getName.startsWith("part-") &&
            st.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
        val conf = spark.sessionState.newHadoopConf()
        dropsPub = staged.zipWithIndex.map { case (st, i) =>
          val target = new Path(dir, f"drops-$expectSeq%010d-$i%05d.parquet")
          // rows from the footer (one driver-side open per drop file on
          // the rare policy-compact path): with r=/b= on the `!` line,
          // the tail's size-capped admission reads the manifest instead
          // of paying a getFileStatus per drop file per batch plan.
          val fr = KvFilters.openFooter(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(st.getPath, conf), conf)
          val rows = try fr.getRecordCount finally fr.close()
          if (!fs.rename(st.getPath, target)) throw new IllegalStateException(
            s"graft-kv compaction: drop-record rename to $target failed")
          target.getName -> KvLog.FileStat(rows, st.getLen,
            None, None, None, None)
        }
      }
    }
    // The scratch write went through the graft-kv sink, so its own log
    // carries exact stats for the merged outputs — re-key them by the
    // published names. Carried files keep their stats too: the checkpoint
    // entry is the replay start, so stats dropped here would be lost.
    var merged = KvLog.live(fs, tmp).files.zipWithIndex.map { case (f, i) =>
      val target = new Path(dir, f"part-c$expectSeq%010d-$i%05d.parquet")
      if (!fs.rename(new Path(tmp, f.name), target)) throw new IllegalStateException(
        s"graft-kv compaction: staging rename to $target failed")
      target.getName -> f.stat
    }
    fs.delete(tmp, true)

    // PUBLISH LOOP — the Delta commit-loop shape for a long merge racing a
    // live table. The staged merge is a pure function of `mergeSet`, so an
    // interleaved commit invalidates it ONLY if that commit removed files;
    // interleaved pure appends (streaming epochs sealing while a
    // minutes-long merge ran — the steady state at scale) just mean the
    // checkpoint entry must also carry THEIR files to stay a complete live
    // set. So on a lost seq race: adjudicate the interleaved entries,
    // rebase (fold their adds+stats into the checkpoint, re-key the merged
    // outputs to the fresh seq — a metadata rename, no data rewrite) and
    // retry, or abort + discard outputs if anything removed files. Without
    // this, maintenance on a table with steady ingest would starve: every
    // pass longer than an epoch interval would abort forever.
    var expect = expectSeq
    var extraAdds = Seq.empty[String]
    var extraStats = Map.empty[String, KvLog.FileStat]
    var attempt = 0
    while (true) {
      prePublishHook()
      // The tightest sound floor: a tail at position p fails only if some
      // entry >= p lost a file, so the floor is one past the HIGHEST
      // attribution among the merged-away segments (never regressing a
      // prior floor). A minor pass that merged only old segments leaves
      // newer positions replayable; a major pass reduces to the gate
      // formula. Recomputed per attempt (cheap hint reads).
      val floor = math.min(expect,
        math.max(KvLog.floor(fs, dir), mergeSet.map(_._2).max + 1))
      // Checkpoint the PENDING REMOVALS (earlier entries' merged-away
      // files still awaiting vacuum, with their original removal clocks)
      // into this entry, so removal attribution replays from here and the
      // pre-floor prefix becomes truncatable ([[KvLog.truncate]]).
      // Filtered to files still on disk — already-reclaimed names need no
      // clock. One replay + O(pending) existence probes, driver-side, on
      // the rare compact path (and once more per rebase attempt).
      val pending = KvLog.removalTimes(fs, dir)
        .filter { case (n, _) => fs.exists(new Path(dir, n)) }
      val entryStats = (merged.collect { case (n, Some(st)) => n -> st } ++
        carrySet.flatMap(n => liveStats.get(n).map(n -> _)) ++
        dropsPub).toMap ++ extraStats
      try {
        val seq = KvLog.append(fs, dir,
          adds = merged.map(_._1) ++ carrySet ++ extraAdds,
          removes = mergeSet.map(_._1), compact = true,
          expectSeq = Some(expect), floor = Some(floor), stats = entryStats,
          carriedRemovals = pending,
          // A retention policy that DROPPED current cells flags the
          // entry ([[KvLog.Entry.contentDrop]]) and references the drop
          // records it staged, so change feeds crossing it ship the
          // drops as exact-version delete markers. Gated on the COUNTED
          // drops, not the declared policy: a pass that expired nothing
          // publishes a plain merge, and plain merges (and marker/
          // masked-cell purges) preserve the masked logical view and
          // stay CDC-transparent.
          contentDrop = droppedCount > 0, dropFiles = dropsPub.map(_._1))
        // Merged-away segments stay on disk for in-flight readers (see the
        // publish protocol above).
        return Compacted(seq, merged = mergeSet.size, into = merged.size,
          dropped = droppedCount)
      } catch {
        case _: KvLog.ConcurrentCommitException =>
          attempt += 1
          val nowLatest = KvLog.latestSeq(fs, dir)
          val interleaved =
            (expect to nowLatest).flatMap(KvLog.read(fs, dir, _))
          val conflicts = interleaved.filter(e => e.compact || e.removes.nonEmpty)
          if (conflicts.nonEmpty || attempt >= MaxRebaseAttempts) {
            // True conflict (or a pathologically hot log): the winner may
            // have merged away this pass's inputs, so the staged outputs
            // are unpublishable — discard them and let the next pass plan
            // from the winner's manifest. Nothing was published; readers
            // never saw the staged files (manifest-planned).
            merged.foreach { case (n, _) =>
              fs.delete(new Path(dir, n), false): Unit }
            dropsPub.foreach { case (n, _) =>
              fs.delete(new Path(dir, n), false): Unit }
            return Aborted(
              if (conflicts.nonEmpty)
                s"concurrent commit at seq ${conflicts.head.seq} removed " +
                  "files: staged merge discarded (next pass replans)"
              else s"lost the publish race $attempt times: backing off")
          }
          extraAdds ++= interleaved.flatMap(_.adds)
          extraStats ++= interleaved.flatMap(_.stats)
          val next = nowLatest + 1
          merged = merged.zipWithIndex.map { case ((n, st), i) =>
            val target = f"part-c$next%010d-$i%05d.parquet"
            if (!fs.rename(new Path(dir, n), new Path(dir, target)))
              throw new IllegalStateException(
                s"graft-kv compaction: rebase rename to $target failed")
            target -> st
          }
          dropsPub = dropsPub.zipWithIndex.map { case ((n, st), i) =>
            val target = f"drops-$next%010d-$i%05d.parquet"
            if (!fs.rename(new Path(dir, n), new Path(dir, target)))
              throw new IllegalStateException(
                s"graft-kv compaction: drop-record rebase rename to " +
                  s"$target failed")
            target -> st
          }
          expect = next
      }
    }
    throw new IllegalStateException("unreachable: publish loop returns")
  }

  /** Rebase cap — each attempt is one log-hint read + one entry append, so
    * the cap only guards a pathologically hot log; 5 lost races in a row
    * means back off and let the maintenance scheduler re-trigger.
    */
  private val MaxRebaseAttempts = 5

  /** Test-only injection point: runs immediately before each publish
    * attempt, so a spec can interleave a commit deterministically between
    * staging and publish. Production value is a no-op.
    */
  private[sources] var prePublishHook: () => Unit = () => ()

  /** The [[Minor]] window search over (name, attributedSeq, bytes)
    * candidates. O(candidates²) driver-side arithmetic on bounded region
    * metadata; exposed for the selection-law spec.
    */
  private[sources] def selectTier(sized: Seq[(String, Long, Long)],
      m: Minor): Seq[(String, Long, Long)] = {
    val bySize = sized.sortBy(f => (f._3, f._1))
    var best: Seq[(String, Long, Long)] = Nil
    var bestBytes = Long.MaxValue
    var start = 0
    while (start < bySize.length) {
      var len = 2
      while (len <= math.min(m.maxMerge, bySize.length - start)) {
        val w = bySize.slice(start, start + len)
        val total = w.map(_._3).sum
        val largest = w.last._3 // size-sorted: the window's max
        if (largest.toDouble <= m.sizeRatio * (total - largest) &&
            (len > best.size || (len == best.size && total < bestBytes))) {
          best = w; bestBytes = total
        }
        len += 1
      }
      start += 1
    }
    best
  }
}
