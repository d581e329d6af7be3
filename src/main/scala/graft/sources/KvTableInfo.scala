package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Table-level physical-layout certification from the manifest alone.
  *
  * DSv2 has no vocabulary for "range-partitioned by rowKey" — a scan can
  * report ordering (`SupportsReportOrdering`) and key-grouped hash-style
  * partitioning, but not the range layout the `graft-kv` sink actually
  * produces, so Catalyst cannot learn that a pivot over a compacted table
  * needs no exchange. The engine closes that gap STRUCTURALLY instead of
  * through the planner: [[disjointSortedRegions]] certifies the bulk-load
  * invariant from manifest stats (zero file opens), and the presorted
  * pivot ([[graft.ops.KvPivot.pivotPresorted]] — a per-partition streaming
  * group) exploits it with zero exchanges BY CONSTRUCTION, the same way
  * the reference's map-only export exploited HBase scan order
  * (ExportHBaseTableToDelimiteredTxt.java:85 `setNumReduceTasks(0)`).
  */
object KvTableInfo {

  /** Whether `path`'s live region files certify the BULK-LOAD INVARIANT
    * the presorted pivot needs — every rowKey's cells confined to one
    * file, each file internally (rowKey, qualifier)-sorted:
    *  - every live file carries manifest stats ⇒ it was written by the
    *    engine's sink, whose `RequiresDistributionAndOrdering` sorted it
    *    (a stat-less legacy/foreign file certifies nothing);
    *  - the files' [minKey, maxKey] ranges are pairwise STRICTLY disjoint
    *    ⇒ no key spans two files (an LSM pile-up of overlapping commits
    *    fails here until compaction merges it).
    * Driver-side manifest replay only — the certification itself opens no
    * data file. Returns false for legacy directories and empty tables.
    *
    * A table RECORDED as salted ([[KvSalt]]) refuses certification
    * outright: the invariant holds in STORED key space only, a salt-aware
    * scan strips the prefix, and one LOGICAL key's cells live in one file
    * per salt — so any per-partition whole-key consumer of this
    * certification would be silently wrong. Mechanical, not a doc caveat:
    * the recorded `_salt` property makes the refusal checkable here.
    */
  def disjointSortedRegions(spark: SparkSession, path: String): Boolean = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (KvSalt.resolveAt(fs, dir, None).isDefined) return false
    storedDisjointSorted(fs, dir)
  }

  /** The WEAKER certification the per-partition streaming pivot actually
    * needs, and the one a SALTED table can satisfy: every LOGICAL rowKey's
    * cells are CONTIGUOUS within exactly one scan partition. True whenever
    * the live files are disjoint-sorted in STORED key space — which is
    * what the manifest bounds record — because one logical key maps to
    * exactly one stored key (the salt is a function of the key), so its
    * cells land in one file, adjacent in stored order, and the salt-aware
    * scan's prefix strip preserves adjacency of equal keys. What salting
    * still gives up is cross-partition LOGICAL ordering (stored order
    * interleaves buckets) — so [[disjointSortedRegions]] keeps refusing
    * salted tables for any consumer that needs a sorted-by-logical-key
    * stream, while group-by-adjacent-key consumers
    * ([[graft.ops.KvPivot.pivotPresorted]]) certify HERE and run
    * exchange-free on the hot-key-ingest layout too.
    */
  def keyContiguousRegions(spark: SparkSession, path: String): Boolean = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    storedDisjointSorted(fs, dir)
  }

  private def storedDisjointSorted(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Boolean = {
    if (!fs.exists(dir) || !KvLog.exists(fs, dir)) return false
    storedDisjointSortedFrom(KvLog.live(fs, dir).withStats)
  }

  /** The certification applied to an ALREADY-REPLAYED live (name, stat)
    * set — lets one manifest replay serve several layout consults
    * ([[graft.ops.KvPivot.autoStrategy]] also needs the tombstone stats
    * from the same replay). The check is [[KvRegionLayout.fromStats]]'s.
    */
  private[graft] def storedDisjointSortedFrom(
      entries: Seq[(String, Option[KvLog.FileStat])]): Boolean =
    KvRegionLayout.fromStats(None, entries).isDefined
}
