package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** IN-PLACE SALT-LAYOUT CONVERSION — the one table attribute `ALTER TABLE`
  * correctly refuses to touch, done honestly: every stored rowKey embeds
  * the salt ([[KvSalt]]), so changing `salt_buckets` is a REWRITE of every
  * live cell, not a metadata edit. HBase has the same asymmetry — altering
  * a table's split/salt scheme means disabling it and rewriting into a new
  * layout (the Phoenix guidance for changing `SALT_BUCKETS` is exactly
  * "create a new table and upsert-select into it"); `resalt` is that
  * rewrite as one online table operation, reachable as
  * `CALL sys.resalt(table => 'ns.t', buckets => n)` ([[KvProcedures]]).
  *
  * Shape: a MAJOR COMPACTION whose rewrite also re-keys —
  *  - read every live cell, apply + purge delete markers (the full-merge
  *    rule, [[KvDelete.applyMarkers]] — nothing outside the merge can hold
  *    maskable cells, so markers physicalize and disappear),
  *  - strip the old salt / apply the new one (plain codegen'd column
  *    expressions — the engine's usual one bounded exchange through the
  *    sink's range-partition contract, no driver data path),
  *  - publish ONE checkpoint entry whose adds are the new layout, whose
  *    removes are the complete old live set, and — the piece compaction
  *    doesn't have — whose header DECLARES the new layout
  *    ([[KvLog.Entry.saltDecl]]). The declaration rides the same atomic
  *    entry publish as the file swap, so there is no window in which a
  *    reader sees new files under the old salt or vice versa, and
  *    time travel below the entry resolves the OLD layout
  *    ([[KvSalt.resolveAt]]) over the old files (retained until vacuum,
  *    like any compaction input).
  *
  * Concurrency: STRICTER than compaction's rebase loop — an interleaved
  * commit aborts the pass outright, because rows another writer salted
  * under the old layout cannot be rebased into the new one (they'd need
  * the rewrite themselves). The `expectSeq` guard makes the abort happen
  * before anything publishes; the committer itself is also guarded
  * ([[KvSalt.requireLayoutUnchanged]]) for the converse race. Registered
  * tails refuse the operation entirely (the restore rule: a layout change
  * rewrites history past their positions).
  *
  * Scale shape: one full-table read + one sink write — the same cost as
  * the major compaction a layout this wrong would need anyway; all other
  * steps are bounded driver-side metadata.
  */
object KvResalt {

  sealed trait Result
  /** Converted at log `seq`: `from`/`to` are bucket counts (None =
    * unsalted), `files` the new layout's region-file count.
    */
  case class Resalted(seq: Long, from: Option[Int], to: Option[Int],
      files: Int) extends Result
  /** Nothing to do (already in the target layout, or no table). */
  case class Parked(reason: String) extends Result
  /** A concurrent commit raced the publish; nothing changed. Retryable. */
  case class Aborted(reason: String) extends Result

  /** Test-only injection point (the [[KvCompactor.prePublishHook]]
    * pattern): runs between staging and the declaring publish, so a spec
    * can interleave a commit deterministically. Production is a no-op.
    */
  private[sources] var prePublishHook: () => Unit = () => ()

  /** Convert `path` to `to` buckets (None = unsalted). `regions` sets the
    * output region-file count explicitly; default is the compact
    * precedence (recorded `regions` property, else sized from live bytes
    * — a layout change is exactly when an operator re-picks the fan-out).
    */
  def resalt(spark: SparkSession, path: String, to: Option[Int],
      regions: Option[Int] = None): Result = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return Parked(s"no table at $path")
    to.foreach(KvSalt.requireBuckets)
    KvLog.seedFromDirIfNeeded(fs, dir) // legacy table: manifest first
    KvLog.ensureLogDir(fs, dir)
    // ONE resolution for (latest, live, layout): reading them separately
    // would let a commit land in between, and — because this pass's
    // checkpoint claims to be the complete live set — the `expectSeq`
    // guard would then PASS while the interleaved commit's files silently
    // vanish behind the new horizon (and vacuum later reclaims them), or
    // files a racing resalt rewrote would be unsalted under the old layout.
    val version = KvLog.live(fs, dir)
    val expect = version.seq + 1
    val live = version.names
    val liveStats = version.stats
    val from = KvSalt.resolveAt(fs, dir, Some(version.seq))
    if (from == to) {
      // Crash repair: a prior resalt that published its declaration but
      // died before recording the property leaves `salt_buckets` stale
      // (and every catalog INSERT failing the layout-agreement guard).
      // Re-running the resalt lands here and completes the property step.
      if (KvSalt.declSeqs(fs, dir).nonEmpty &&
          KvTableProps.read(fs, dir).get("salt_buckets")
            .flatMap(v => scala.util.Try(v.toInt).toOption) != to)
        KvSalt.recordLayoutProperty(fs, dir, to)
      return Parked("already " +
        to.fold("unsalted")(n => s"salted with $n buckets"))
    }
    // The restore rule (KvSnapshot.restore doc): a layout change rewrites
    // history past every registered tail's position, and the tails would
    // resume into files whose keys they cannot interpret. Refuse loudly.
    val marks = KvLog.tailPositions(fs, dir)
    require(marks.isEmpty,
      s"graft-kv resalt: cannot change the salt layout of $path while " +
        s"tails are registered (${marks.keys.toSeq.sorted.mkString(", ")}) " +
        "— stop the pipes or DropTail first")

    // Stage the rewrite (skipped when there is nothing to rewrite — an
    // empty or data-less table converts with a declaration-only entry).
    var staged = Seq.empty[(String, Option[KvLog.FileStat])]
    if (live.nonEmpty) {
      val tmp = new Path(dir, s"_resalt_${UUID.randomUUID().toString.take(8)}")
      val cellCols = graft.kv.Cell.schema.fieldNames
        .map(org.apache.spark.sql.functions.col)
      var df = spark.read.parquet(live.map(f => s"$path/$f"): _*)
        .select(cellCols.toIndexedSeq: _*)
      // Full-merge marker semantics: masked puts drop, markers purge.
      if (live.exists(f => liveStats.get(f).exists(_.tombstones > 0)))
        df = KvDelete.applyMarkers(df)._1
      from.foreach(_ => df = KvSalt.unsalted(df))
      to.foreach(n => df = KvSalt.salted(df, n))
      val props = KvTableProps.read(fs, dir)
      // Output sizing: the recorded region count if the table pins one,
      // else size-derived like maintenance (ceil(live bytes / target)).
      val bytes = live.map(f => liveStats.get(f).map(_.bytes)
        .getOrElse(fs.getFileStatus(new Path(dir, f)).getLen)).sum
      val target = props.get("maintain_target_region_bytes").map(_.toLong)
        .getOrElse(128L * 1024 * 1024)
      val outRegions = regions.orElse(props.get("regions").map(_.toInt))
        .getOrElse(math.max(1L, (bytes + target - 1) / target).toInt)
      var w = df.write.format("graft-kv").option("regions", outRegions)
      props.get("codec").foreach(c => w = w.option("codec", c))
      // saltedInput turns on the scratch sink's per-row stored-key
      // validation for the new layout — a transform bug fails the staging
      // write, never the published table.
      to.foreach(n => w = w.option("saltedInput", n))
      w.mode("overwrite").save(tmp.toString)
      staged = KvLog.live(fs, tmp).files.zipWithIndex.map { case (f, i) =>
        // part-c naming: a resalt IS a major compaction, and the
        // compactor's idempotence park recognizes its outputs as one.
        val t = new Path(dir, f"part-c$expect%010d-$i%05d.parquet")
        if (!fs.rename(new Path(tmp, f.name), t)) throw new IllegalStateException(
          s"graft-kv resalt: staging rename to $t failed")
        t.getName -> f.stat
      }
      fs.delete(tmp, true)
    }

    // Hint BEFORE the declaring entry publishes (KvSalt.declare doc); a
    // lost race rolls it back below.
    KvSalt.declare(fs, dir, expect)
    prePublishHook()
    val pending = KvLog.removalTimes(fs, dir)
      .filter { case (n, _) => fs.exists(new Path(dir, n)) }
    try {
      val seq = KvLog.append(fs, dir,
        adds = staged.map(_._1), removes = live,
        compact = true, expectSeq = Some(expect), floor = Some(expect),
        stats = staged.collect { case (n, Some(st)) => n -> st }.toMap,
        carriedRemovals = pending,
        saltDecl = Some(to.getOrElse(0)))
      // Durable fallback + write-injection source: the recorded
      // `salt_buckets` table property follows the layout. A crash before
      // this line leaves the property stale — the committer-side
      // layout-agreement guard turns that into a loud INSERT failure
      // (re-run the resalt; the Parked path below repairs the property),
      // never a silent mixed-salt write.
      KvSalt.recordLayoutProperty(fs, dir, to)
      Resalted(seq, from, to, staged.size)
    } catch {
      case _: KvLog.ConcurrentCommitException =>
        KvSalt.undeclare(fs, dir, expect)
        staged.foreach { case (n, _) =>
          fs.delete(new Path(dir, n), false): Unit }
        Aborted("concurrent commit raced the resalt publish — nothing " +
          "changed; re-run (interleaved rows were written under the old " +
          "layout and must be rewritten too)")
    }
  }
}
