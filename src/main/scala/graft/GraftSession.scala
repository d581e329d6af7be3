package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession shape every graft entry point runs on (bench,
  * correctness dump, CLI, specs, probes): `local[cores]` with as many
  * shuffle partitions, UTC session time, and the storage-partitioned join
  * settings the `graft-kv` connector's reported partitioning relies on.
  * Callers add only what is theirs (an app name, the SQL extensions).
  */
object GraftSession {

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      // Storage-partitioned joins over the graft-kv connector's reported
      // KeyGroupedPartitioning (KvRegionLayout): the main opt-in plus
      // partition-value padding so pruned/missing regions on one side
      // zip against empties instead of forcing a shuffle.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      // The connector clusters by REGION-OF-rowKey; joins on
      // (rowKey, qualifier) are still co-located by it (equal pairs are a
      // fortiori equal on rowKey), but the default co-partition check
      // demands partition keys == join keys exactly — relax it.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
