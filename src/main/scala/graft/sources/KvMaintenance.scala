package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** POLICY-DRIVEN table maintenance for `graft-kv` tables — the automated
  * housekeeping loop HBase runs for every region server (compaction
  * triggers on store-file count, `ConstantSizeRegionSplitPolicy` sizes the
  * regions — CreateTable.java:28,56-57 pins 100 GB) restated over the
  * manifest log: ONE idempotent pass that compacts when the segment
  * pile-up crosses a threshold and vacuums what previous compactions left
  * behind. [[KvCompactor]] and [[KvVacuum]] stay manually drivable
  * (CompactTable / VacuumTable); this is the "nobody has to remember"
  * wrapper a long-lived warehouse schedules after its write batches
  * (MaintainTable subcommand, or programmatically per table).
  *
  * The core knobs each mirror an HBase analog:
  *  - `maxSegments` — compact only when the LIVE segment count exceeds it
  *    (`hbase.hstore.compactionThreshold`: more store files than this
  *    triggers a compaction). Under it the pass parks: maintenance on a
  *    healthy table is a no-op, so scheduling it aggressively is safe.
  *  - `targetRegionBytes` — the merged output's region count is
  *    `ceil(live bytes / target)` (ConstantSizeRegionSplitPolicy: regions
  *    split to hold a target size): a table that grew gets MORE output
  *    regions, never an ever-fatter fixed count. Clamped to ≥ 1.
  *  - `vacuumGraceMs` — passed through to [[KvVacuum]]; merged-away
  *    segments older than this (measured from their REMOVING entry's
  *    publish, [[KvLog.removalTimes]]) are reclaimed in the same pass, so
  *    steady-state maintenance bounds disk at live + one grace window of
  *    garbage.
  *
  * Scale shape: the decision reads the manifest (live file names) plus one
  * `getFileStatus` per live segment for sizing — driver-side, bounded by
  * segment count which maintenance itself keeps bounded. The merge is the
  * engine's range-sorted sink ([[KvCompactor]]); the pass never reads or
  * shuffles data it doesn't merge. Tail gating applies unchanged: a live
  * pipeline parks compaction below its mark, and the vacuum half still
  * runs — maintenance never blocks on an idle tail.
  */
object KvMaintenance extends org.apache.spark.internal.Logging {

  /** The POST-COMMIT housekeeping entry — best-effort by contract. Every
    * caller here has already made its own write durable, so a maintenance
    * failure must never fail the statement: an orchestrator retrying a
    * "failed" INSERT that actually committed would double every row.
    * Failures log loudly; the pass is idempotent, so the next write's
    * pass (or an explicit `CALL sys.maintain`) simply redoes it.
    */
  def maintainBestEffort(spark: SparkSession, path: String,
      policy: Policy): Unit =
    try maintain(spark, path, policy): Unit
    catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"graft-kv: post-commit maintenance on $path failed — " +
          s"the triggering write IS committed; the next pass retries: $e")
    }

  /** [[maintainBestEffort]] for callers that haven't resolved the table's
    * policy yet (the marker-DELETE path commits through `SupportsDelete`,
    * which carries no table properties): reads the recorded props and runs
    * the declared policy, if any. The READ AND PARSE are inside the
    * best-effort guard too — a malformed recorded property or a props-file
    * IO error must not fail the already-committed statement any more than
    * a compaction failure may.
    */
  def maintainIfDeclared(spark: SparkSession, path: String): Unit =
    try {
      val dir = new Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      KvTableProps.maintainPolicyOf(KvTableProps.read(fs, dir))
        .foreach(maintainBestEffort(spark, path, _))
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"graft-kv: post-commit maintenance policy resolution " +
          s"on $path failed — the triggering write IS committed: $e")
    }

  /** Defaults sized for the test warehouse; production would pass the
    * 100 GB-region / 24 h-grace equivalents.
    *
    * The compaction a maintenance pass runs is MINOR by default
    * ([[KvCompactor.Minor]] size-tiered selection, `minorMaxMerge` /
    * `minorSizeRatio` mirroring `hbase.hstore.compaction.max` and the
    * HBase ratio): each pass rewrites at most one similar-size tier, so a
    * steady streaming sink triggering maintenance per epoch pays O(tier)
    * bytes per pass — NOT a full-table rewrite every time the segment
    * count crosses the threshold, which at 100 TB would be the dominant
    * write cost of the whole pipeline. `majorCompact = true` restores the
    * full rewrite (the admin-scheduled `major_compact`, worth running
    * off-peak to collapse the tier ladder back to the minimal layout).
    */
  case class Policy(
      maxSegments: Int = 8,
      targetRegionBytes: Long = 128L * 1024 * 1024,
      vacuumGraceMs: Long = 24L * 3600 * 1000,
      minorMaxMerge: Int = 10,
      minorSizeRatio: Double = 1.2,
      majorCompact: Boolean = false,
      /** HBase `TTL`: cells whose ts (interpreted as epoch millis, the
        * HBase default contract — the table owner's responsibility) falls
        * more than this below the pass's wall clock are dropped during
        * the merge rewrite ([[KvCompactor.CellPolicy]]). None = keep
        * forever.
        */
      ttlMs: Option[Long] = None,
      /** HBase `VERSIONS => k`: retain only the newest k versions per
        * (rowKey, qualifier) among merged files (exact under
        * `majorCompact`, amortized under minor — same as HBase). None =
        * unbounded versions.
        */
      maxVersions: Option[Int] = None,
      /** Region-SPLIT trigger, as a multiple of `targetRegionBytes` (the
        * HBase split-policy half of ConstantSizeRegionSplitPolicy): a pass
        * whose compaction check parks still splits one live segment at or
        * past `splitFactor × targetRegionBytes` into target-sized pieces
        * ([[KvCompactor.SplitOversized]]) — without it, a region sealed by
        * one giant batch stays a single scan task forever and no minor
        * tier ever selects it. `Double.PositiveInfinity` disables.
        */
      splitFactor: Double = 2.0) {
    require(maxSegments >= 1, "graft-kv maintenance: maxSegments must be >= 1")
    ttlMs.foreach(t => require(t > 0,
      "graft-kv maintenance: ttlMs must be positive"))
    require(targetRegionBytes > 0,
      "graft-kv maintenance: targetRegionBytes must be positive")
    // Grace 0 is a TEST-ONLY setting under the single-writer assumption:
    // it reclaims a merged-away segment the instant its removing entry
    // publishes, racing any in-flight scan planned pre-publish and a
    // concurrent commit's pre-publish renamed files. Production passes a
    // grace longer than its longest-running scan (the Delta retention rule).
    require(vacuumGraceMs >= 0,
      "graft-kv maintenance: vacuumGraceMs must be non-negative")
    require(splitFactor >= 1.0,
      "graft-kv maintenance: splitFactor must be >= 1.0")
  }

  object Policy {
    /** Table-property spelling → write-option spelling of each knob. */
    val OptionSpelling: Map[String, String] = Map(
      "maintain" -> "maintain",
      "maintain_max_segments" -> "maintainMaxSegments",
      "maintain_target_region_bytes" -> "maintainTargetRegionBytes",
      "maintain_grace_ms" -> "maintainGraceMs",
      "ttl_ms" -> "maintainTtlMs",
      "versions" -> "maintainVersions")

    /** The one `maintain*` parser, for write options and recorded table
      * properties alike. `lookup` reads a knob by its table-property
      * spelling from whatever the caller holds; `spelled` names the knob
      * as the caller spells it, for the error. Every knob present is
      * parsed, maintenance on or off, so a typo fails the statement that
      * carries it. Absent knobs take this class's defaults. None when
      * `maintain` is not true.
      */
    def parse(lookup: String => Option[String],
        spelled: String => String): Option[Policy] = {
      def knob[T](property: String, expect: String)(read: String => T): Option[T] =
        lookup(property).map { v =>
          try read(v) catch {
            case scala.util.control.NonFatal(_) =>
              throw new IllegalArgumentException(
                s"${spelled(property)} must be $expect, got '$v'")
          }
        }
      def int(min: Int)(v: String): Int = { val n = v.toInt; require(n >= min); n }
      def long(min: Long)(v: String): Long = { val n = v.toLong; require(n >= min); n }
      val on = knob("maintain", "true|false")(_.toLowerCase match {
        case "true" => true
        case "false" => false
      })
      val maxSegments = knob("maintain_max_segments", "an integer >= 1")(int(1))
      val target = knob("maintain_target_region_bytes", "a byte count >= 1")(long(1))
      val grace = knob("maintain_grace_ms", "a duration in ms >= 0")(long(0))
      // Declarative retention (HBase TTL / VERSIONS): enforced by the
      // pass's compaction rewrite ([[KvCompactor.CellPolicy]]).
      val ttl = knob("ttl_ms", "a duration in ms >= 1")(long(1))
      val versions = knob("versions", "an integer >= 1")(int(1))
      if (!on.contains(true)) None
      else {
        val d = Policy()
        Some(d.copy(maxSegments = maxSegments.getOrElse(d.maxSegments),
          targetRegionBytes = target.getOrElse(d.targetRegionBytes),
          vacuumGraceMs = grace.getOrElse(d.vacuumGraceMs),
          ttlMs = ttl, maxVersions = versions))
      }
    }
  }

  case class Report(compaction: KvCompactor.Result, vacuum: KvVacuum.Result,
      logEntriesTruncated: Int = 0,
      split: KvCompactor.Result = KvCompactor.Parked("not attempted"))

  def maintain(spark: SparkSession, path: String,
      policy: Policy = Policy()): Report = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir))
      return Report(KvCompactor.Parked(s"no table at $path"),
        KvVacuum.Skipped(s"no table at $path"))
    KvLog.seedFromDirIfNeeded(fs, dir) // legacy table: manifest first
    val live = KvLog.liveFiles(fs, dir)
    // SECONDARY INDEXES absorb the committed span FIRST (the HBase
    // stance — upkeep is the store's job): a compaction below raises the
    // log floor, and refreshing AFTER it would find every covered span
    // unservable and fall back to a full O(table) rebuild on exactly the
    // passes that compact — defeating the O(changes) design. Refreshed
    // first, the span is still replayable; the floor rise lands only
    // above the new covered seq and the next pass refreshes through it.
    // Best-effort like the rest of the pass (lookups are
    // verification-correct at any lag, so a failed refresh costs
    // latency, never correctness); a fresh index is a no-op probe.
    KvIndex.list(fs, dir).foreach { m =>
      try KvIndex.refresh(spark, path, m.name)
      catch {
        case e: Exception =>
          logWarning(s"graft-kv maintenance: index '${m.name}' refresh " +
            s"on $path failed (lookups stay correct via verification): " +
            s"${e.getMessage}")
      }
    }
    val compaction =
      if (live.size <= policy.maxSegments)
        KvCompactor.Parked(
          s"under threshold: ${live.size} live segments <= ${policy.maxSegments}")
      else KvCompactor.compactTo(spark, path, policy.targetRegionBytes,
        if (policy.majorCompact) KvCompactor.Major
        else KvCompactor.Minor(policy.minorMaxMerge, policy.minorSizeRatio),
        KvCompactor.CellPolicy(
          dropBelowTs = policy.ttlMs.map(System.currentTimeMillis() - _),
          maxVersions = policy.maxVersions))
    // SPLIT check (one publish per pass, like an HBase split check): only
    // when the compaction half did not already rewrite this pass, divide
    // one far-oversized region into target-sized pieces. The next pass
    // handles any further region — maintenance cadence is the loop.
    val splitThreshold = policy.splitFactor * policy.targetRegionBytes
    val split = compaction match {
      case _: KvCompactor.Compacted =>
        KvCompactor.Parked("compaction ran this pass; split defers")
      case _ if !splitThreshold.isFinite =>
        KvCompactor.Parked("split disabled by policy")
      case _ =>
        KvCompactor.compactTo(spark, path, policy.targetRegionBytes,
          KvCompactor.SplitOversized(splitThreshold.toLong),
          KvCompactor.CellPolicy(
            dropBelowTs = policy.ttlMs.map(System.currentTimeMillis() - _),
            maxVersions = policy.maxVersions))
    }
    // Vacuum runs regardless of the compaction outcome: it reclaims what
    // PREVIOUS passes removed once their grace expires, and crash strays.
    // Log retention rides the same clock: entries below the floor older
    // than the vacuum grace are dropped (their pre-floor versions' data
    // is being reclaimed by the same pass anyway); refused automatically
    // on tables whose checkpoint predates pending-carrying entries.
    Report(compaction, KvVacuum.vacuum(spark, path, policy.vacuumGraceMs),
      KvLog.truncate(fs, dir, policy.vacuumGraceMs), split)
  }
}
