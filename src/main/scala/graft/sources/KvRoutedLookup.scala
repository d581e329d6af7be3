package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}

/** EXECUTION-TIME routed index lookup (r18) — the lazily-evaluated scan
  * the routing rule ([[KvIndexRouting]]) splices instead of eagerly
  * building a lookup plan inside the optimizer.
  *
  * Why a custom node: through r17 a positive routing decision called
  * [[KvIndex.lookup]] AT PLAN TIME — its `latestSeq` pin and bounded
  * candidate probe (a small distributed job) ran inside the optimizer,
  * so (a) planning latency was data-dependent, and (b) the routed plan
  * pinned the table version current at PLANNING, which under concurrent
  * commits could legitimately diverge from the unrouted plan's
  * execution-time read (ADVICE r17 carried this as a known trade). This
  * node keeps planning PURE — the rewrite manufactures only metadata
  * (path, index name, bounds, manifest-stat estimates) — and defers the
  * entire lookup (version probe, candidate probe, verification plan) to
  * [[KvRoutedLookupExec.doExecute]], i.e. the first execution of the
  * routed query: routed SQL now reads the SAME version an unrouted plan
  * would. Re-executions of one physical plan reuse the first
  * execution's result plan (the lazy val below), matching the DSv2
  * scan-pinning behavior of every other read.
  *
  * Statistics come from the same manifest replay the cost gate already
  * paid ([[KvIndex.rangeEstimate]], memoized): candidate-row estimate ×
  * the base's bytes/row — so joins ABOVE a routed subquery see an
  * honest post-lookup size (broadcast-eligible when the range is small)
  * instead of a table-sized or unknown one.
  */
case class KvRoutedLookup(
    path: String,
    index: String,
    kind: KvRoutedLookup.Kind,
    /** One `[lo, hi)` per key component, in index key order, as the
      * routing rule's one value-range extractor read them — every side
      * a bound [[KvIndex.validBound]] accepts. Range and Composite carry
      * both sides (a decimal open lo as the exact floor "0"); TopN and
      * TopNComposite leave an open side None.
      */
    bounds: Seq[(Option[String], Option[String])],
    topK: Int,
    desc: Boolean,
    estimatedRows: Long,
    estimatedBytes: Long,
    output: Seq[Attribute],
    /** TopN only: the MULTI-qualifier pivot shape — output carries the
      * covered include columns and the lookup runs
      * [[KvIndex.topNCovered]] with `wide` (null-ordering guards
      * documented there).
      */
    wide: Boolean = false) extends LeafNode {
  override def computeStats(): Statistics = Statistics(
    sizeInBytes = BigInt(estimatedBytes).max(1),
    rowCount = Some(BigInt(estimatedRows).max(0)))
  override def simpleString(maxFields: Int): String =
    s"KvRoutedLookup ${KvRoutedLookup.describe(this)}"
}

object KvRoutedLookup {
  sealed trait Kind
  /** Single-component value range via [[KvIndex.lookup]]. */
  case object Range extends Kind
  /** Composite per-component ranges via [[KvIndex.lookupComposite]]. */
  case object Composite extends Kind
  /** ORDER BY value LIMIT k via [[KvIndex.topNCovered]] (optionally
    * range-restricted).
    */
  case object TopN extends Kind
  /** ORDER BY c1, c2... LIMIT k with a bound per key component via
    * [[KvIndex.topNComposite]] (r19).
    */
  case object TopNComposite extends Kind

  def describe(n: KvRoutedLookup): String = {
    val bs = n.bounds.map { case (lo, hi) =>
      s"[${lo.getOrElse("")}, ${hi.getOrElse("inf")})" }.mkString(",")
    val top = if (n.kind == TopN || n.kind == TopNComposite)
      s" top${n.topK}(${if (n.desc) "DESC" else "ASC"})" else ""
    s"path=${n.path} index=${n.index} bounds=$bs$top " +
      s"est=${n.estimatedRows}r/${n.estimatedBytes}b"
  }

  /** Build the lookup DataFrame this node defers — called at execution
    * time from [[KvRoutedLookupExec]]. The output schema matches the
    * node's declared `output` positionally (the routing rule constructs
    * `output` to mirror the lookup's columns).
    */
  def build(spark: SparkSession, n: KvRoutedLookup): DataFrame = n.kind match {
    case Range =>
      val (lo, hi) = n.bounds.head
      KvIndex.lookup(spark, n.path, n.index, lo.get, hi.get)
    case Composite =>
      KvIndex.lookupComposite(spark, n.path, n.index,
        n.bounds.map { case (l, h) => (l.get, h.get) })
    case TopN =>
      val (lo, hi) = n.bounds.headOption.getOrElse((None, None))
      KvIndex.topNCovered(spark, n.path, n.index, n.topK, n.desc, lo, hi,
        wide = n.wide)
    case TopNComposite =>
      KvIndex.topNComposite(spark, n.path, n.index, n.topK, n.desc, n.bounds)
  }
}

/** Physical side of [[KvRoutedLookup]]: builds the lookup at FIRST
  * execution (version probe + candidate probe + verification plan all
  * run then, driver-side) and serves its rows. The inner query is a
  * complete Spark plan of its own (AQE included); this node adapts it
  * into the outer plan as a leaf, the same nesting shape a subquery
  * execution uses.
  */
case class KvRoutedLookupExec(node: KvRoutedLookup) extends LeafExecNode {
  override def output: Seq[Attribute] = node.output

  /** One lookup per physical plan — re-executing the same plan re-reads
    * the FIRST execution's resolved version, exactly like a DSv2 scan
    * whose partitions were planned once.
    */
  private lazy val inner: RDD[InternalRow] =
    KvRoutedLookup.build(session, node).queryExecution.toRdd

  override protected def doExecute(): RDD[InternalRow] = inner

  override def simpleString(maxFields: Int): String =
    s"KvRoutedLookupExec ${KvRoutedLookup.describe(node)}"
}

/** Planner strategy for the routed-lookup node — injected by
  * [[graft.GraftExtensions]] and [[KvIndexRouting.install]] alongside
  * the rewrite rule (a session holding the rule without the strategy
  * could plan a [[KvRoutedLookup]] it cannot execute).
  */
object KvRoutedLookupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: KvRoutedLookup => KvRoutedLookupExec(n) :: Nil
    case _ => Nil
  }
}
