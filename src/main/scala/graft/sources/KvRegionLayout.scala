package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}

/** CERTIFIED KEY-RANGE LAYOUT for storage-partitioned joins — the DSv2
  * vocabulary gap [[KvTableInfo]] documents ("range-partitioned by
  * rowKey" is not expressible), closed the way Spark's own
  * KeyGroupedPartitioning machinery expects: describe the layout as a
  * FUNCTION of the join key, and let partition-value equality do the
  * co-location.
  *
  * A certified table (every live file stat-carrying, stored key ranges
  * strictly disjoint — the bulk-load invariant the sink's
  * `RequiresDistributionAndOrdering` produces and compaction restores)
  * defines a total function from rowKey to region ordinal: region `i`
  * covers stored keys `[bound(i-1), bound(i))` where the bounds are the
  * sorted region files' lower keys (region 0 is open below, the last is
  * open above — strict disjointness guarantees each file's data sits
  * inside its slot). The scan reports
  * `KeyGroupedPartitioning(grange_<token>(layoutSpec, rowKey))` with one
  * partition per region and the region ordinal as the partition key, so
  * two scans whose tables share the layout — a table and its clone, a
  * snapshot and the unchanged current version, a self-join by family —
  * plan a partition-wise join with ZERO exchanges (the reference analog
  * is region-aligned scan routing: one task per region,
  * ExportHBaseTableToDelimiteredTxt.java:75-80).
  *
  * SOUNDNESS — why differing layouts can never silently co-locate: the
  * layout token (a 64-bit hash of salt + bounds) is part of the FUNCTION
  * NAME. Spark's compatibility check compares bound functions by
  * canonical name, so two tables with different layouts expose two
  * different functions and fall back to the ordinary shuffle. The
  * transform must be SINGLE-ARGUMENT over the key column (Spark's
  * `KeyGroupedPartitioning.supportsExpressions` rejects transforms with
  * extra literal children), so the layout itself cannot ride the
  * expression; instead the reporting scan registers `token -> spec` in a
  * driver-side registry and [[GraftKvCatalog.loadFunction]]'s bind
  * captures the spec into the bound function — which then serializes to
  * executors intact, keeping the function genuinely evaluable
  * (`produceResult` re-derives the region of any key) for the
  * shuffle-one-side path (`spark.sql.sources.v2.bucketing.shuffle
  * .enabled`). A bind that misses the registry (possible only when a
  * plan resolves in a JVM that never planned the scan) still carries
  * identity — co-location stays sound — and only evaluation refuses.
  *
  * Salted tables participate too: bounds are STORED-form keys, the scan
  * emits LOGICAL keys, and the salt count rides the layout spec so the
  * function re-salts before the binary search — a salted table co-locates
  * with another table of identical split points AND salt, and with
  * nothing else (the salt changes the token).
  *
  * Resolution requires a FunctionCatalog: Spark only converts a reported
  * partitioning into a catalyst one when the relation carries a catalog
  * that can load the named function ([[GraftKvCatalog.loadFunction]]).
  * Path-based `spark.read.format("graft-kv")` reads have no catalog, so
  * they keep the pre-SPJ plans — correct, just shuffled.
  */
object KvRegionLayout {

  /** `salt` = 0 for unsalted; `bounds` = lower stored keys of regions
    * `1..n-1`, strictly increasing (`n` regions total; region 0 is open
    * below).
    */
  final case class Layout(salt: Int, bounds: Array[String]) {
    require(salt >= 0)
  }

  /** Region ordinal of one STORED key: the number of bounds at or below
    * it (binary search — bounds are strictly increasing).
    */
  def regionIndex(stored: String, bounds: Array[String]): Int = {
    var a = 0
    var b = bounds.length
    while (a < b) {
      val mid = (a + b) >>> 1
      // UTF-8 byte order: bounds are file minKeys (byte-ordered sink
      // stats) and the files were range-partitioned by Spark's byte-order
      // sort — a UTF-16 search could assign a key to a region other than
      // the file that physically holds it, silently breaking co-location
      if (graft.kv.Utf8Order.compare(bounds(mid), stored) <= 0) a = mid + 1 else b = mid
    }
    a
  }

  /** Length-prefixed spec encoding — bounds are arbitrary key strings, so
    * no separator char is safe: `v1:<salt>:<n>:` then `<len>:<chars>` per
    * bound (lengths in chars). Deterministic, so the token is too.
    */
  def encode(l: Layout): String = {
    val sb = new StringBuilder
    sb.append("v1:").append(l.salt).append(':').append(l.bounds.length).append(':')
    l.bounds.foreach { b => sb.append(b.length).append(':').append(b) }
    sb.toString()
  }

  def decode(spec: String): Layout = {
    var i = 0
    def readInt(): Int = {
      val c = spec.indexOf(':', i)
      require(c > i, s"graft-kv layout spec: malformed at $i")
      val v = spec.substring(i, c).toInt
      i = c + 1
      v
    }
    require(spec.startsWith("v1:"), "graft-kv layout spec: unknown version")
    i = 3
    val salt = readInt()
    val n = readInt()
    val bounds = Array.fill(n) {
      val len = readInt()
      val s = spec.substring(i, i + len)
      i += len
      s
    }
    require(i == spec.length, "graft-kv layout spec: trailing bytes")
    Layout(salt, bounds)
  }

  /** 64-bit layout identity, hex — rides the function NAME so layout
    * inequality is function inequality (class doc).
    */
  def token(spec: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(spec.getBytes("UTF-8"))
    d.take(8).map(b => f"$b%02x").mkString
  }

  def functionName(spec: String): String = s"grange_${token(spec)}"

  /** The names [[GraftKvCatalog.loadFunction]] serves. The name carries
    * layout IDENTITY; evaluation state comes from [[specFor]] at bind
    * time.
    */
  val FnNameRe = "grange_[0-9a-f]{16}".r

  def isRegionFnName(name: String): Boolean =
    FnNameRe.pattern.matcher(name).matches()

  /** Derive the certified layout + per-file region ordinals from a live
    * (file, stat) set. None when the set doesn't certify: a file lacks
    * stats or key bounds, or the ranges (UTF-8 byte order, as the sink's
    * stats) are not strictly disjoint. The one disjointness check.
    */
  def fromStats(salt: Option[Int],
      entries: Seq[(String, Option[KvLog.FileStat])])
      : Option[(Layout, Map[String, Int])] = {
    if (entries.isEmpty) return None
    val withBounds = entries.flatMap { case (f, st) =>
      st.flatMap(s => s.minKey.zip(s.maxKey)).map { case (lo, hi) => (f, lo, hi) }
    }
    if (withBounds.size != entries.size) return None
    val sorted = withBounds.sortBy(_._2)(graft.kv.Utf8Order)
    val disjoint = sorted.sliding(2).forall {
      case Seq((_, _, hiA), (_, loB, _)) =>
        graft.kv.Utf8Order.compare(hiA, loB) < 0
      case _ => true
    }
    if (!disjoint) return None
    val bounds = sorted.drop(1).map(_._2).toArray
    Some((Layout(salt.getOrElse(0), bounds),
      sorted.iterator.zipWithIndex.map { case ((f, _, _), i) => f -> i }.toMap))
  }

  /** Driver-side `token -> spec` registry (class doc): a scan REGISTERS
    * its layout when it reports the partitioning; the catalog's bind
    * resolves the token back to the spec and bakes it into the bound
    * function (which then serializes to executors whole). Bounded in
    * practice by the number of distinct layouts a driver ever plans;
    * entries are tiny (one short string per region bound).
    */
  private val registry = new ConcurrentHashMap[String, String]()

  /** Register `spec` and return the derived function name. */
  private[sources] def register(spec: String): String = {
    val t = token(spec)
    registry.putIfAbsent(t, spec)
    s"grange_$t"
  }

  private[sources] def specFor(fnameOrToken: String): Option[String] =
    Option(registry.get(fnameOrToken.stripPrefix("grange_")))

  private[sources] def cachedDecode(spec: String): Layout =
    parseCache.computeIfAbsent(spec, decode(_))

  /** Spec-keyed parse cache: `produceResult` runs per row on the shuffle
    * fallback path, and the spec is identical across a scan's rows.
    */
  private val parseCache = new ConcurrentHashMap[String, Layout]()
}

/** The catalog-served unbound form: binds `(rowKey: string) -> int`. */
private[sources] case class KvRegionUnbound(fname: String)
    extends UnboundFunction {
  override def name(): String = fname
  override def description(): String =
    s"$fname(rowKey) -> region ordinal of rowKey under the graft-kv " +
      "key-range layout the function name identifies"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 1 &&
      inputType.fields.forall(_.dataType == StringType),
      s"graft-kv: $fname expects (string rowKey), got $inputType")
    KvRegionBound(fname, KvRegionLayout.specFor(fname))
  }
}

/** The bound region function. Canonical name == the token-carrying name:
  * that is the compatibility boundary (layout inequality ⇒ name
  * inequality ⇒ no storage-partitioned co-location). `spec` is the bound
  * evaluation state, None when the bind missed the registry (class doc —
  * identity still works, evaluation refuses loudly).
  */
private[sources] case class KvRegionBound(fname: String, spec: Option[String])
    extends ScalarFunction[Integer] {
  override def name(): String = fname
  override def canonicalName(): String = s"graft.$fname"
  override def inputTypes(): Array[DataType] = Array(StringType)
  override def resultType(): DataType = IntegerType
  override def isResultNullable: Boolean = false

  override def produceResult(input: InternalRow): Integer = {
    val layout = KvRegionLayout.cachedDecode(spec.getOrElse(
      throw new IllegalStateException(
        s"graft-kv: $fname bound without its layout spec (resolved in a " +
          "JVM that never planned the certified scan) — cannot evaluate; " +
          "co-located joins are unaffected")))
    val key = input.getUTF8String(0).toString
    val stored =
      if (layout.salt > 0) KvSalt.stored(key, layout.salt) else key
    KvRegionLayout.regionIndex(stored, layout.bounds)
  }
}
