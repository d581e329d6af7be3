package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-SURFACE AUTOMATIC INDEX ROUTING — the Phoenix-optimizer behavior
  * lifted into Catalyst: a plain SQL range predicate over the PIVOTED
  * VIEW of one or more qualifiers' current values,
  *
  * {{{
  *   SELECT rowKey, value FROM (
  *     SELECT rowKey, decode(max_by_ts(value, ts), 'UTF-8') AS value
  *     FROM kv_cells WHERE family = 'f' AND qualifier = 'click'
  *     GROUP BY rowKey)
  *   WHERE CAST(value AS BIGINT) >= 9000 AND CAST(value AS BIGINT) < 12000
  *
  *   -- or the multi-qualifier pivot (conditional LWW per column):
  *   SELECT rowKey, c, v FROM (
  *     SELECT rowKey,
  *       decode(max_by_ts(value, CASE WHEN qualifier = 'click' THEN ts END),
  *              'UTF-8') AS c,
  *       decode(max_by_ts(value, CASE WHEN qualifier = 'view' THEN ts END),
  *              'UTF-8') AS v
  *     FROM kv_cells WHERE family = 'f' AND qualifier IN ('click', 'view')
  *     GROUP BY rowKey)
  *   WHERE CAST(c AS BIGINT) >= 9000 AND CAST(c AS BIGINT) < 12000
  *     AND CAST(v AS BIGINT) >= 0    AND CAST(v AS BIGINT) < 5000
  * }}}
  *
  * is recognized by this `Rule[LogicalPlan]` and — when a maintained
  * [[KvIndex]] matches the predicated columns AND the manifest-stat cost
  * estimate says the range is selective ([[KvIndex.rangeIsSelective]],
  * the [[KvIndex.autoLookup]] call lifted into the planner) — rewritten
  * to the VERIFIED index lookup: a single-column predicate routes to
  * [[KvIndex.lookup]] over a matching single-component index; a
  * multi-column predicate whose columns are EXACTLY a composite index's
  * key components routes to [[KvIndex.lookupComposite]] (covered +
  * composite composing, one index scan on the fresh path).
  *
  * Correctness boundary — why the rewrite can never change an answer:
  *  - the original `Filter` stays ON TOP of the spliced lookup, so the
  *    lookup only has to produce a SUPERSET of the rows the predicate
  *    selects; bounds the extractor cannot map (IS NOT NULL debris,
  *    extra conjuncts) simply stay residual;
  *  - bounds are extracted only from conjuncts whose comparison
  *    semantics PROVABLY match the component's collation: integral
  *    `CAST(col AS BIGINT/INT)` comparisons for a decimal-mode
  *    (`pad > 0`) component — numeric order IS padded-string order for
  *    the canonical digit strings decimal mode enforces — and exact
  *    `[lo, hi)` string comparisons for a string-mode component;
  *  - the composite route requires an extractable range on EVERY key
  *    component: those comparisons force each column non-null, so the
  *    predicate's row set lies inside the index's inner-join row set
  *    (rows carrying ALL components) — the superset argument again;
  *  - the matched subtree must be EXACTLY the LWW pivot shape (one
  *    grouping key = rowKey, per-column utf8-decoded
  *    [[graft.functions.MaxByTsAgg]] — unconditional, or conditioned on
  *    `CASE WHEN qualifier = '<q>' THEN ts END` — inner filter =
  *    family equality + a qualifier equality/IN covering the pivoted
  *    qualifiers, relation = a plain current `graft-kv` read). Time
  *    travel, CDC feeds, snapshots, extra predicates below the
  *    aggregate, or unrecognized aggregates all refuse — including the
  *    internal plans of [[KvIndex.lookup]]/[[KvIndex.lookupComposite]]
  *    themselves, whose verification filters carry a rowKey `IN` (and
  *    whose range filters use guarded lpad expressions no extractor
  *    maps): loop-proof by shape.
  *
  * One decimal-mode behavior difference is the TYPED CONTRACT, not a
  * bug: a base table holding a non-digit or over-width value under a
  * decimal index fails the routed lookup LOUDLY ([[KvIndex]] class doc)
  * where the raw scan would silently null it out of a CAST — the same
  * refusal [[KvIndex.autoLookup]] makes, now reachable from SQL.
  *
  * Installation: [[KvIndexRouting.install]] appends the rule to the
  * session's `experimental.extraOptimizations` (the post-pushdown "User
  * Provided Optimizers" batch); [[graft.GraftExtensions]] also injects
  * it as a pre-CBO rule for `withExtensions`-built sessions. Both
  * positions may see either the pre-pushdown `DataSourceV2Relation` or
  * the post-pushdown `DataSourceV2ScanRelation`; the matcher accepts
  * both. The rewrite decision is NEVER load-bearing: any internal error
  * (filesystem hiccup, unreadable index meta) logs and falls back to
  * the unrouted plan.
  *
  * Scale shape (r18): the COST CALL is two driver-side manifest replays
  * (zero data I/O, memoized per latest seq) and only runs on a full
  * structural match. A POSITIVE decision splices a LAZY
  * [[KvRoutedLookup]] leaf — pure metadata; planning runs NO
  * distributed work. The lookup itself (version probe, bounded
  * candidate probe, verification plan) executes at the routed query's
  * FIRST execution ([[KvRoutedLookupExec]]), so routed SQL reads the
  * same table version an unrouted plan would, planning latency is
  * data-independent, and re-executions of one physical plan reuse the
  * first execution's resolved version (the DSv2 scan-pinning shape). A
  * routed query reads O(candidates) instead of O(table) — the Phoenix
  * global-index trade, safe because read-time verification absorbs
  * index staleness.
  */
case class KvIndexRouting(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper with Logging {

  import KvIndexRouting._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!session.conf.get(EnabledKey, "true").toBoolean) return plan
    // ORDER BY <value> [DESC] LIMIT k over the pivot shape — the Phoenix
    // ORDER-BY-elimination, served by [[KvIndex.topNCovered]] (index
    // head when fresh, verified over-fetch when stale). The original
    // Sort+Limit (and Filter, on the range-restricted variant) stay ON
    // TOP of the spliced k-row set, so with a bare value order ANY
    // valid top-k set is exact, and with the (value, rowKey) tie-break
    // the served order matches outright. This pass runs TOP-DOWN and
    // FIRST: bottom-up, the plain range route would consume the Filter
    // of `Limit(Sort(Filter(range, pivot)))` before the combined shape
    // is ever seen, serving O(range) where one index scan serves O(k).
    val topRouted = plan.transformDown {
      case lim @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(_, srt @ Sort(orders, true, child, _))) =>
        val (filt, pivotChild) = child match {
          case f @ Filter(cond, fc) => (Some((f, cond)), fc)
          case other => (None, other)
        }
        pivotShape(pivotChild) match {
          case Some(shape) =>
            try routeTopN(k, orders, filt.map(_._2), shape)
              .map { sp =>
                val inner = filt.fold(sp) { case (f, _) => f.copy(child = sp) }
                lim.copy(child = ll.copy(child = srt.copy(child = inner)))
              }
              .getOrElse(lim)
            catch {
              case NonFatal(e) =>
                logWarning(s"graft-kv index routing: falling back to the " +
                  s"unrouted top-n of ${shape.path} (${e.getMessage})")
                lim
            }
          case None => lim
        }
    }
    topRouted.transformUp {
      case f @ Filter(cond, child) =>
        pivotShape(child) match {
          case Some(shape) =>
            try route(cond, shape).map(Filter(cond, _)).getOrElse(f)
            catch {
              case NonFatal(e) =>
                logWarning(s"graft-kv index routing: falling back to the " +
                  s"unrouted scan of ${shape.path} (${e.getMessage})")
                f
            }
          case None => f
        }
    }
  }

  /** The matched LWW-pivot subtree: table path, family, and the
    * Aggregate's output attributes IN THEIR ORIGINAL ORDER — each tagged
    * with the qualifier its column pivots (None = a rowKey passthrough,
    * possibly several). The splice rebuilds exactly this output list, so
    * positional consumers (union-by-position, RDD conversion) see the
    * same columns whether or not the cost call routed.
    */
  private case class PivotShape(path: String, family: String,
      outs: Seq[(Attribute, Option[String])],
      /** The inner filter's qualifier set — may be a SUPERSET of the
        * pivoted columns' qualifiers: rows carrying only an extra
        * qualifier pivot with every value column NULL. The range route
        * tolerates them (its retained Filter nulls them out on both
        * sides); the top-n route must refuse unless the sets are EQUAL
        * ([[routeTopN]] — an all-null row can reach a bare top-k).
        */
      filterQuals: Seq[String]) {
    def cols: Seq[(String, Attribute)] =
      outs.collect { case (a, Some(q)) => (q, a) }
  }

  private def pivotShape(plan: LogicalPlan): Option[PivotShape] = plan match {
    case Aggregate(Seq(g: AttributeReference), aggExprs, aggChild, _) =>
      for {
        (path, fam, quals, relOut) <- scanShape(stripProjects(aggChild))
        if attrIn(g, "rowKey", relOut)
        outs <- outputCols(aggExprs, g, quals, relOut)
      } yield PivotShape(path, fam, outs, quals)
    case _ => None
  }

  /** Every aggregate output must be either the grouping rowKey (bare or
    * aliased — duplicates fine) or a recognized pivoted value column
    * over a distinct qualifier from the filtered set — one unrecognized
    * output refuses the whole shape (its semantics are unknown, so no
    * lookup can be proven a superset).
    */
  private def outputCols(aggExprs: Seq[NamedExpression], g: AttributeReference,
      quals: Seq[String], relOut: Seq[Attribute])
      : Option[Seq[(Attribute, Option[String])]] = {
    val entries: Seq[Option[(Attribute, Option[String])]] = aggExprs.map {
      case a: AttributeReference if a.exprId == g.exprId =>
        Some((a: Attribute, None))
      case al @ Alias(a: AttributeReference, _) if a.exprId == g.exprId =>
        Some((al.toAttribute, None))
      case al @ Alias(w, _) =>
        decodedMaxByTs(w, quals, relOut).map(q => (al.toAttribute, Some(q)))
      case _ => None
    }
    sequence(entries).filter { outs =>
      val qs = outs.flatMap(_._2)
      qs.nonEmpty && qs.distinct.length == qs.length
    }
  }

  /** Unwrap the exact "utf8 string of the (possibly qualifier-scoped)
    * LWW binary" shape — the ONLY wrappers whose output semantics equal
    * the lookups' value columns — and return the qualifier the column
    * pivots. Accepts the analyzed `StringDecode`, its RuntimeReplaceable
    * replacement (`StaticInvoke(StringDecode.decode, ...)` — what the
    * optimized plan holds), and a plain binary→string Cast; the LWW
    * ordinal is either the bare `ts` (single-qualifier filters only) or
    * `CASE WHEN qualifier = '<q>' THEN ts END`.
    */
  private def decodedMaxByTs(e: Expression, quals: Seq[String],
      relOut: Seq[Attribute]): Option[String] = {
    def utf8(cs: Expression): Boolean = cs match {
      case Literal(s: UTF8String, StringType) =>
        s.toString.equalsIgnoreCase("utf-8")
      case _ => false
    }
    val inner = e match {
      case sd: StringDecode if utf8(sd.charset) => Some(sd.bin)
      case si: StaticInvoke
          if si.staticObject == classOf[StringDecode] &&
            si.functionName == "decode" && si.arguments.length >= 2 &&
            utf8(si.arguments(1)) =>
        Some(si.arguments.head)
      case c: Cast if c.dataType == StringType &&
          c.child.dataType == BinaryType => Some(c.child)
      case _ => None
    }
    inner.flatMap {
      // NEAR-MISS, logged not routed: the same pivot spelled with
      // Spark's BUILT-IN max_by. Its tie-break (ties in ts resolve
      // arbitrarily) differs from max_by_ts's byte-max contract, so a
      // lookup cannot be proven row-equal — but the refusal used to be
      // silent, and a full scan of a table whose qualifier has a
      // perfectly good index is a support ticket. One NOTE names the fix.
      case AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(
            v: AttributeReference, ord), _, false, None, _)
          if attrIn(v, "value", relOut) && (ord match {
            case t: AttributeReference => attrIn(t, "ts", relOut)
            // mirror the routable shape exactly (qualifier = 'q' THEN ts):
            // an unrelated conditional ordinal is not "the same pivot one
            // spelling away", and advising a max_by_ts rewrite there
            // would be false guidance
            case CaseWhen(Seq((EqualTo(qa: AttributeReference, Literal(_, StringType)),
                t: AttributeReference)), None) =>
              attrIn(qa, "qualifier", relOut) && attrIn(t, "ts", relOut)
            case _ => false
          }) =>
        logInfo("graft-kv index routing: pivot spelled with built-in " +
          "max_by(value, ts) never routes — its timestamp-tie behavior " +
          "is unspecified where graft's max_by_ts breaks ties by value " +
          "bytes, so no index lookup can be proven row-equal. Spell the " +
          "pivot with graft.functions.MaxByTsAgg.maxByTs (SQL: " +
          "max_by_ts) to make it index-routable.")
        None
      case AggregateExpression(
          graft.functions.MaxByTsAgg(v: AttributeReference, ord, _, _),
          _, false, None, _) if attrIn(v, "value", relOut) =>
        ord match {
          case t: AttributeReference
              if attrIn(t, "ts", relOut) && quals.length == 1 =>
            Some(quals.head)
          case CaseWhen(Seq((EqualTo(qa: AttributeReference,
              Literal(q: UTF8String, StringType)), t: AttributeReference)),
              None)
              if attrIn(qa, "qualifier", relOut) && attrIn(t, "ts", relOut) &&
                quals.contains(q.toString) =>
            Some(q.toString)
          case _ => None
        }
      case _ => None
    }
  }

  private def attrIn(a: AttributeReference, name: String,
      out: Seq[Attribute]): Boolean =
    out.exists(o => o.exprId == a.exprId && o.name == name)

  private def stripProjects(plan: LogicalPlan): LogicalPlan = plan match {
    case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(child)
    case other => other
  }

  /** Match the filtered plain-current kv relation; returns (path, family,
    * filtered qualifiers, relation output). The filter must be EXACTLY
    * one family equality plus one qualifier equality/IN — any extra
    * conjunct (a rowKey `IN` from a lookup's own verification read, a
    * ts bound) means the subtree answers a different question and must
    * not route. `IsNotNull(family/qualifier)` conjuncts are
    * optimizer-inferred FROM those predicates (implied), so they are
    * dropped before the exactness check.
    */
  private def scanShape(plan: LogicalPlan)
      : Option[(String, String, Seq[String], Seq[Attribute])] = plan match {
    case Filter(cond, rel) =>
      for {
        path <- relPath(rel)
        (fam, quals) <- famQuals(splitConjunctivePredicates(cond), rel.output)
      } yield (path, fam, quals, rel.output)
    case _ => None
  }

  private def relPath(plan: LogicalPlan): Option[String] = plan match {
    case r: DataSourceV2ScanRelation => r.scan match {
      case ks: KvScan => ks.routablePath
      case _ => None
    }
    case r: DataSourceV2Relation => r.table match {
      case t: KvCellTable
          if r.options.keySet().asScala.forall(k =>
            k.equalsIgnoreCase("path") || k.equalsIgnoreCase("paths")) =>
        t.routablePath
      case _ => None
    }
    case _ => None
  }

  private def famQuals(conjuncts: Seq[Expression], out: Seq[Attribute])
      : Option[(String, Seq[String])] = {
    def strLit(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, StringType) => Some(s.toString)
      case _ => None
    }
    def named(a: AttributeReference): Option[String] =
      if (out.exists(_.exprId == a.exprId)) Some(a.name) else None
    val material = conjuncts.filterNot {
      case IsNotNull(a: AttributeReference) =>
        named(a).exists(n => n == "family" || n == "qualifier")
      case _ => false
    }
    if (material.length != 2) return None
    var fam = Option.empty[String]
    var quals = Option.empty[Seq[String]]
    material.foreach {
      case EqualTo(a: AttributeReference, l) =>
        (named(a), strLit(l)) match {
          case (Some("family"), Some(v)) => fam = Some(v)
          case (Some("qualifier"), Some(v)) => quals = Some(Seq(v))
          case _ => return None
        }
      case EqualTo(l, a: AttributeReference) =>
        (named(a), strLit(l)) match {
          case (Some("family"), Some(v)) => fam = Some(v)
          case (Some("qualifier"), Some(v)) => quals = Some(Seq(v))
          case _ => return None
        }
      case In(a: AttributeReference, vs) if named(a).contains("qualifier") =>
        val lits = vs.map(strLit)
        if (lits.exists(_.isEmpty)) return None
        quals = Some(lits.flatten)
      case _ => return None
    }
    for {f <- fam; qs <- quals} yield (f, qs)
  }

  /** The rewrite proper: find a matching index, extract collation-safe
    * bounds, make the manifest-stat cost call, splice the verified
    * lookup. None = keep the plan (which IS the correct scan plan).
    */
  private def route(cond: Expression, s: PivotShape): Option[LogicalPlan] = {
    val table = new Path(s.path)
    val fs = table.getFileSystem(session.sessionState.newHadoopConf())
    val conjuncts = splitConjunctivePredicates(cond)
    val indexes = KvIndex.list(fs, table).filter(_.family == s.family)

    if (s.cols.length == 1) {
      val (qual, valOut) = s.cols.head
      // EVERY matching index gets a shot (cost-only choice, never a
      // correctness one): indexes on the same qualifier can differ in
      // pad mode — one whose mode can't extract bounds from these
      // conjuncts, or whose range prices unselective, must not veto a
      // sibling that can serve. Among the serving candidates the
      // CHEAPEST wins — smallest manifest-stat candidate estimate
      // (r18; the memoized replay already priced each one), name as
      // the deterministic tie-break.
      // Composite indexes are inner joins of their components — wrong
      // row set for a single-qualifier pivot; never route through one.
      indexes
        .filter(i => i.qualifier == qual && !i.composite)
        .flatMap { m =>
          bounds(conjuncts, valOut, m.pad).flatMap { case (lo, hi) =>
            val (cand, baseRows, _) = KvIndex.rangeEstimate(fs, table, m, lo, hi)
            if (KvIndex.isSelective(cand, baseRows))
              Some((m, (lo, hi), cand))
            else None
          }
        }
        .sortBy { case (m, _, cand) => (cand, m.name) }
        .headOption.map { case (m, (lo, hi), _) =>
          logInfo(s"graft-kv index routing: serving value range [$lo, $hi) " +
            s"on ${s.path} (${s.family}, $qual) through index '${m.name}'")
          val node = lookupNode(s, m, KvRoutedLookup.Range,
            Seq((Some(lo), Some(hi))))
          splice(s, node, _ => node.output(1))
        }
    } else {
      val byQual = s.cols.toMap
      // Same serving-candidate iteration over the composite indexes
      // whose key components are exactly the predicated columns: an
      // extractable range on EVERY key component, in key order — each
      // range forces its column non-null, so the predicate's rows all
      // carry every component (the index's inner-join row set). The
      // cheapest leading-bound estimate wins (r18), name tie-break.
      indexes
        .filter(i => i.composite && i.keyQuals.length == s.cols.length &&
          i.keyQuals.toSet == s.cols.map(_._1).toSet)
        .flatMap { m =>
          sequence(m.keyQuals.zip(m.pads).map { case (q, p) =>
            bounds(conjuncts, byQual(q), p)
          }).flatMap { pc =>
            val (cand, baseRows, _) = KvIndex.rangeEstimate(
              fs, table, m, pc.head._1, pc.head._2)
            if (KvIndex.isSelective(cand, baseRows))
              Some((m, pc, cand))
            else None
          }
        }
        .sortBy { case (m, _, cand) => (cand, m.name) }
        .headOption.map { case (m, perComp, _) =>
          logInfo(s"graft-kv index routing: serving composite ranges " +
            s"${m.keyQuals.zip(perComp).map { case (q, (l, h)) => s"$q:[$l,$h)" }
              .mkString(", ")} on ${s.path} through index '${m.name}'")
          val node = lookupNode(s, m, KvRoutedLookup.Composite,
            perComp.map { case (l, h) => (Some(l), Some(h)) })
          // lookupComposite output is POSITIONAL: rowKey, value (leading
          // component), the non-leading components in index order, then
          // includes — resolve by position, never by name (a component
          // qualifier literally named 'rowKey' or 'value' would otherwise
          // bind the wrong column)
          splice(s, node, q =>
            if (q == m.qualifier) node.output(1)
            else {
              val i = m.rest.indexWhere(_._1 == q)
              require(i >= 0, s"graft-kv index routing: '$q' is not a " +
                s"component of index '${m.name}'")
              node.output(2 + i)
            })
        }
    }
  }

  /** Rebuild EXACTLY the original output list over the lookup plan —
    * same order, same arity, same exprIds — so the routed and unrouted
    * plans are indistinguishable to everything above the matched node.
    */
  private def splice(s: PivotShape, lp: LogicalPlan,
      compCol: String => Attribute): LogicalPlan =
    Project(s.outs.map {
      case (a, None) => Alias(lp.output.head, a.name)(exprId = a.exprId)
      case (a, Some(q)) => Alias(compCol(q), a.name)(exprId = a.exprId)
    }, lp)

  /** The top-n rewrite decision: a single-qualifier pivot ordered by its
    * value column — in the INDEX'S OWN COLLATION (bare string attr for a
    * string-mode index, `CAST(value AS integral)` for decimal mode) with
    * the direction's default null ordering (the pivot value is provably
    * non-null, but default-only keeps the proof local) — optionally
    * tie-broken by rowKey in the SAME direction (the order the encoded
    * index key implies). Routes through any COVERED index regardless of
    * freshness ([[KvIndex.topNCovered]] serves a stale index by
    * verified over-fetch against the CDC tail — r18; degraded cases
    * fall back to the pinned base pivot INSIDE the call, still k-exact).
    * No selectivity call — a k-row index head is at most O(k + changes)
    * base work against the pivot's O(table).
    *
    * `cond` carries the RANGE-RESTRICTED variant
    * (`Limit(Sort(Filter(range, pivot)))`): it routes only when EVERY
    * material conjunct is an extractable value-range comparison — the
    * spliced k-row set must be exactly the top-k of the cond-satisfying
    * rows, so one residual conjunct (which the re-applied Filter would
    * use to CUT spliced rows) could under-produce the limit. Either
    * bound may be open; IsNotNull(value) debris is tautological on the
    * spliced rows (lookup values are non-null) and is ignored.
    */
  private def routeTopN(k: Int, orders: Seq[SortOrder],
      cond: Option[Expression], s: PivotShape): Option[LogicalPlan] = {
    if (k < 1 || s.cols.isEmpty) return None
    // The filter's qualifier set must EQUAL the pivoted columns': an
    // extra filtered qualifier (IN ('a','c') pivoting only 'a')
    // contributes rows whose every value column is NULL — invisible to
    // any index, rank-relevant to a bare top-k in both directions, and
    // absent even from the wide fallback's (leading ∪ include) scan.
    // The RANGE route tolerates the superset (its retained Filter drops
    // all-null rows on both sides); the top-n route refuses.
    if (s.filterQuals.toSet != s.cols.map(_._1).toSet) return None
    val dirs = orders.map(_.direction).distinct
    if (orders.isEmpty || dirs.length != 1) return None
    val desc = dirs.head == Descending
    val defaultNulls = orders.forall(o => o.nullOrdering ==
      (if (o.direction == Ascending) NullsFirst else NullsLast))
    if (!defaultNulls) return None
    // an optional TRAILING rowKey tie-break in the same direction — the
    // order the encoded index key implies after its value components
    val rowKeyTie = orders.length >= 2 && (orders.last.child match {
      case a: AttributeReference =>
        s.outs.exists { case (o, q) => q.isEmpty && o.exprId == a.exprId }
      case _ => false
    })
    val valOrders = if (rowKeyTie) orders.dropRight(1) else orders
    if (valOrders.isEmpty) return None // ORDER BY rowKey alone: not ours
    // A MULTI-column value sort routes through a composite index whose
    // key components equal the sort columns in order (r19).
    if (valOrders.length >= 2)
      return routeTopNComposite(k, valOrders, desc, cond, s)
    // the ordered expression names which pivot column the index must key
    // on — bare attr (string collation) or integral cast (decimal)
    val orderedAttr: Option[AttributeReference] = valOrders.headOption
      .map(_.child).flatMap {
        case a: AttributeReference => Some(a)
        case c: Cast if c.dataType == LongType || c.dataType == IntegerType ||
            c.dataType == ShortType =>
          c.child match {
            case a: AttributeReference => Some(a)
            case _ => None
          }
        case _ => None
      }
    val ordered = orderedAttr.flatMap(a =>
      s.cols.find(_._2.exprId == a.exprId))
    if (ordered.isEmpty) return None
    val (qual, valOut) = ordered.get
    // the OTHER pivoted columns (multi-qualifier shape, r18): served
    // from a covered index whose include set is EXACTLY these — a
    // superset index would add include-only rows the pivot lacks on the
    // wide fallback path
    val others = s.cols.collect {
      case (q, a) if a.exprId != valOut.exprId => q }
    val wide = others.nonEmpty
    // The sort expression decides which index MODE may serve: numeric
    // order equals padded-key order only for decimal mode, raw string
    // order only for string mode.
    def collationOk(pad: Int): Boolean = orders.head.child match {
      case a: AttributeReference if a.exprId == valOut.exprId => pad == 0
      case c: Cast =>
        c.child match {
          case a: AttributeReference if a.exprId == valOut.exprId => pad > 0
          case _ => false
        }
      case _ => false
    }
    val table = new Path(s.path)
    val fs = table.getFileSystem(session.sessionState.newHadoopConf())
    // Cost tie-break (r18): a top-n fetch reads (2 + |include|) cells
    // per entry, so among serving covered indexes the narrowest payload
    // wins; name as the deterministic tie-break.
    KvIndex.list(fs, table)
      .filter(i => i.family == s.family && i.qualifier == qual &&
        !i.composite && i.covered && collationOk(i.pad) &&
        (!wide || i.include.toSet == others.toSet) &&
        (k.toLong + 1) * (2 + i.include.length) <= KvIndex.MaxTopNFetch)
      .flatMap { m =>
        cond match {
          case None =>
            Some((m, Option.empty[String], Option.empty[String]))
          case Some(c) =>
            boundsTopN(splitConjunctivePredicates(c), valOut, m.pad)
              .map { case (lo, hi) => (m, lo, hi) }
        }
      }
      // multi-qualifier + bare + ASC: nulls rank FIRST and the index
      // only sees leading-carrying rows ([[KvIndex.topNCoveredWide]]
      // doc) — routes ONLY when the maintained includeOnly stat proves
      // no such row exists (r19; the stat is re-proven inside the
      // lookup at execution, so a stale plan-time read stays exact —
      // the node falls back to the wide pivot, never wrong)
      .filterNot { case (m, lo, hi) =>
        wide && !desc && lo.isEmpty && hi.isEmpty &&
          !m.includeOnly.contains(0L) }
      .sortBy { case (m, _, _) => (m.include.length, m.name) }
      .headOption.map { case (m, lo, hi) =>
        val rng = if (lo.isEmpty && hi.isEmpty) ""
          else s" in [${lo.getOrElse("")}, ${hi.getOrElse("inf")})"
        logInfo(s"graft-kv index routing: serving ORDER BY value " +
          s"${if (desc) "DESC " else ""}LIMIT $k$rng on ${s.path} " +
          s"(${s.family}, $qual${if (wide) s" + ${others.mkString(",")}"
            else ""}) through index '${m.name}'")
        val node = lookupNode(s, m, KvRoutedLookup.TopN, Seq((lo, hi)),
          topK = k, desc = desc, wide = wide)
        splice(s, node, q =>
          if (q == qual) node.output(1)
          else {
            val i = m.include.indexOf(q)
            require(i >= 0, s"graft-kv index routing: '$q' is not " +
              s"covered by index '${m.name}'")
            node.output(2 + i)
          })
      }
  }

  /** [[routeTopN]]'s COMPOSITE branch (r19): `ORDER BY c1, c2... [DESC]
    * LIMIT k` routes through a composite index whose key components
    * equal the sort columns IN ORDER (exact list, not a prefix — a
    * shorter sort would leave ties the encoded key breaks by components
    * the query never named), each sort expression in its component's own
    * collation (bare attr = string mode, integral cast = decimal mode),
    * and — the null wall ([[KvIndex.topNComposite]] doc) — an
    * extractable bound with at least one side on EVERY component, every
    * material conjunct consumed. Served via the NUL-joined encoded key
    * order with the same stale tolerance as the single-column route.
    */
  private def routeTopNComposite(k: Int, valOrders: Seq[SortOrder],
      desc: Boolean, cond: Option[Expression], s: PivotShape)
      : Option[LogicalPlan] = {
    // each sort expression → (qualifier, pivot attr, decimal collation?)
    def sortComp(e: Expression): Option[(Attribute, Boolean)] = e match {
      case a: AttributeReference => Some((a, false))
      case c: Cast if c.dataType == LongType || c.dataType == IntegerType ||
          c.dataType == ShortType =>
        c.child match {
          case a: AttributeReference => Some((a, true))
          case _ => None
        }
      case _ => None
    }
    val comps: Seq[(String, Attribute, Boolean)] = valOrders.flatMap(o =>
      sortComp(o.child).flatMap { case (a, cast) =>
        s.cols.find(_._2.exprId == a.exprId).map { case (q, v) => (q, v, cast) }
      })
    if (comps.length != valOrders.length) return None // unrecognized expr
    if (comps.map(_._1).distinct.length != comps.length) return None
    val keyQualList = comps.map(_._1)
    // pivot columns beyond the key components must come from the include
    // payload (rows are the same either way: the per-component bounds
    // already pin the row set to the index's inner-join entries)
    val extras = s.cols.collect {
      case (q, _) if !keyQualList.contains(q) => q }
    val conjuncts = cond.map(splitConjunctivePredicates).getOrElse(Nil)
    val table = new Path(s.path)
    val fs = table.getFileSystem(session.sessionState.newHadoopConf())
    KvIndex.list(fs, table)
      .filter { i =>
        i.family == s.family && i.composite && i.covered &&
          i.keyQuals == keyQualList &&
          i.pads.zip(comps).forall { case (p, (_, _, cast)) =>
            (p > 0) == cast } &&
          extras.forall(i.include.contains) &&
          (k.toLong + 1) * (1 + i.keyQuals.length + i.include.length) <=
            KvIndex.MaxTopNFetch
      }
      .flatMap { m =>
        if (conjuncts.isEmpty) {
          // BARE multi-column sort (r19): only a PARTIAL-FREE index can
          // serve — a row missing a component ranks mid-stream and is
          // invisible to the inner-join index. The maintained stat
          // ([[KvIndex.Meta.includeOnly]]) is the plan-time gate; the
          // lookup re-proves it at execution and falls back to the
          // exact any-frame pivot if the world moved — never wrong.
          if (m.includeOnly.contains(0L))
            Some((m, m.keyQuals.map(_ =>
              (Option.empty[String], Option.empty[String]))))
          else None
        } else boundsTopNMulti(conjuncts, comps.map(_._2), m.pads)
          .map(pb => (m, pb))
      }
      .sortBy { case (m, _) => (m.include.length, m.name) }
      .headOption.map { case (m, pb) =>
        logInfo(s"graft-kv index routing: serving ORDER BY " +
          s"${m.keyQuals.mkString(", ")} ${if (desc) "DESC " else ""}" +
          s"LIMIT $k in ${m.keyQuals.zip(pb).map { case (q, (l, h)) =>
            s"$q:[${l.getOrElse("")},${h.getOrElse("inf")})" }
            .mkString(", ")} on ${s.path} through index '${m.name}'")
        val node = lookupNode(s, m, KvRoutedLookup.TopNComposite, pb,
          topK = k, desc = desc)
        splice(s, node, q =>
          if (q == m.qualifier) node.output(1)
          else {
            val r = m.rest.indexWhere(_._1 == q)
            if (r >= 0) node.output(2 + r)
            else {
              val j = m.include.indexOf(q)
              require(j >= 0, s"graft-kv index routing: '$q' is not a " +
                s"component of or covered by index '${m.name}'")
              node.output(2 + m.rest.length + j)
            }
          })
      }
  }

  /** Manufacture the LAZY routed-lookup node ([[KvRoutedLookup]]) — the
    * plan-time half of a routing decision is now pure metadata: output
    * attributes mirroring the lookup's positional schema, plus
    * manifest-stat size estimates (the same memoized replay the cost
    * gate used), so planning runs NO distributed work and the routed
    * plan reads at execution time like the unrouted plan it replaced.
    */
  private def lookupNode(s: PivotShape, m: KvIndex.Meta,
      kind: KvRoutedLookup.Kind,
      bounds: Seq[(Option[String], Option[String])],
      topK: Int = 0, desc: Boolean = false,
      wide: Boolean = false): KvRoutedLookup = {
    val table = new Path(s.path)
    val fs = table.getFileSystem(session.sessionState.newHadoopConf())
    val (rows, bytes) = (kind, bounds.headOption) match {
      case (KvRoutedLookup.TopN | KvRoutedLookup.TopNComposite, _) =>
        (topK.toLong, topK.toLong * 64)
      case (_, Some((Some(lo), Some(hi)))) =>
        val (cand, baseRows, baseBytes) =
          KvIndex.rangeEstimate(fs, table, m, lo, hi)
        val avg = if (baseRows > 0) baseBytes.toDouble / baseRows else 64.0
        val r = math.min(cand, Long.MaxValue / 2.0).toLong
        (r, math.min(cand * avg, Long.MaxValue / 2.0).toLong)
      case _ => (0L, 64L)
    }
    val names = kind match {
      case KvRoutedLookup.Composite | KvRoutedLookup.TopNComposite =>
        Seq("rowKey", "value") ++ m.rest.map(_._1) ++ m.include
      case KvRoutedLookup.TopN if wide =>
        // the wide lookup's positional schema: leading value + includes
        Seq("rowKey", "value") ++ m.include
      case _ => Seq("rowKey", "value")
    }
    KvRoutedLookup(s.path, m.name, kind, bounds, topK, desc,
      estimatedRows = rows, estimatedBytes = bytes,
      output = names.map(n => AttributeReference(n, StringType)()),
      wide = wide)
  }

  private def sequence[T](xs: Seq[Option[T]]): Option[Seq[T]] =
    if (xs.exists(_.isEmpty)) None else Some(xs.flatten)

  /** Extract a [lo, hi) value range from the conjuncts that compare the
    * given column in the component's OWN collation (class doc). Both
    * bounds must materialize (decimal mode floors a missing lo at 0 —
    * values are canonical non-negative decimals), fit the declared
    * width, and leave a non-empty range; otherwise no routing.
    */
  private def bounds(conjuncts: Seq[Expression], v: Attribute,
      pad: Int): Option[(String, String)] = {
    def isV(e: Expression): Boolean = e match {
      case a: AttributeReference => a.exprId == v.exprId
      case _ => false
    }
    if (pad > 0) {
      def castOfV(e: Expression): Boolean = e match {
        case c: Cast if isV(c.child) && (c.dataType == LongType ||
          c.dataType == IntegerType || c.dataType == ShortType) => true
        case _ => false
      }
      def litLong(e: Expression): Option[Long] = e match {
        case Literal(x: Long, LongType) => Some(x)
        case Literal(x: Int, IntegerType) => Some(x.toLong)
        case Literal(x: Short, ShortType) => Some(x.toLong)
        case _ => None
      }
      var lo = 0L // decimal values are non-negative: 0 is an exact floor
      var hi = Option.empty[Long]
      def addLo(x: Long): Unit = lo = math.max(lo, x)
      def addHi(x: Long): Unit = hi = Some(hi.fold(x)(math.min(_, x)))
      def excl(x: Long): Unit = if (x < Long.MaxValue) addLo(x + 1)
      def incl(x: Long): Unit = if (x < Long.MaxValue) addHi(x + 1)
      conjuncts.foreach {
        case GreaterThanOrEqual(l, r) if castOfV(l) => litLong(r).foreach(addLo)
        case GreaterThan(l, r) if castOfV(l) => litLong(r).foreach(excl)
        case LessThan(l, r) if castOfV(l) => litLong(r).foreach(addHi)
        case LessThanOrEqual(l, r) if castOfV(l) => litLong(r).foreach(incl)
        case EqualTo(l, r) if castOfV(l) =>
          litLong(r).foreach { x => addLo(x); incl(x) }
        case EqualTo(l, r) if castOfV(r) =>
          litLong(l).foreach { x => addLo(x); incl(x) }
        // literal-first spellings mirror
        case GreaterThanOrEqual(l, r) if castOfV(r) => litLong(l).foreach(incl)
        case GreaterThan(l, r) if castOfV(r) => litLong(l).foreach(addHi)
        case LessThan(l, r) if castOfV(r) => litLong(l).foreach(excl)
        case LessThanOrEqual(l, r) if castOfV(r) => litLong(l).foreach(addLo)
        case _ => ()
      }
      hi.filter(h => h > lo && h >= 1).flatMap { h =>
        val (ls, hs) = (lo.toString, h.toString)
        if (ls.length <= pad && hs.length <= pad) Some((ls, hs)) else None
      }
    } else {
      // String collation: only the two exact-[lo, hi) spellings are
      // provably range-equivalent; >/<= on strings have no closed-form
      // exclusive twin, so they stay residual and block routing.
      // NUL-carrying literals never extract (r18): the lazy routed node
      // defers the lookup's NUL-bound refusal to EXECUTION time, where
      // no unrouted fallback exists — the rewrite decision must stay
      // non-load-bearing, so an inexpressible bound declines HERE.
      // Dropping the literal widens or voids the range — a superset
      // either way, and the retained Filter keeps the answer exact.
      var lo = Option.empty[String]
      var hi = Option.empty[String]
      def litStr(e: Expression): Option[String] = e match {
        case Literal(s: UTF8String, StringType) =>
          Some(s.toString).filterNot(_.contains("\u0000"))
        case _ => None
      }
      // Bound tightening under UTF-8 BYTE order (graft.kv.Utf8Order) —
      // the ordering the index's encoded keys and Spark's UTF8String
      // filters use; JVM String order can pick a non-superset bound.
      def addLo(x: String): Unit = lo = Some(lo.fold(x)(graft.kv.Utf8Order.max(x, _)))
      def addHi(x: String): Unit = hi = Some(hi.fold(x)(graft.kv.Utf8Order.min(x, _)))
      conjuncts.foreach {
        case GreaterThanOrEqual(l, r) if isV(l) => litStr(r).foreach(addLo)
        case LessThan(l, r) if isV(l) => litStr(r).foreach(addHi)
        case LessThanOrEqual(l, r) if isV(r) => litStr(l).foreach(addLo)
        case GreaterThan(l, r) if isV(r) => litStr(l).foreach(addHi)
        case _ => ()
      }
      for {l <- lo; h <- hi if graft.kv.Utf8Order.compare(h, l) > 0} yield (l, h)
    }
  }

  /** [[boundsTopN]] per key COMPONENT for the composite top-n route
    * ([[routeTopNComposite]]): every material conjunct must be a bound
    * on exactly ONE of the sort components (a leftover conjunct would
    * let the re-applied Filter cut spliced rows and under-produce the
    * limit; a conjunct touching several columns has no per-component
    * reading), and every component must end with at least one bound
    * side — a fully-open component admits NULL-component rows the index
    * cannot rank ([[KvIndex.topNComposite]] doc). A decimal `>= 0` is
    * dropped as tautological by [[boundsTopN]] and so reads as open
    * here: sound (we decline), just conservative.
    */
  private def boundsTopNMulti(conjuncts: Seq[Expression],
      vs: Seq[Attribute], pads: Seq[Int])
      : Option[Seq[(Option[String], Option[String])]] = {
    val ids = vs.map(_.exprId)
    val material = conjuncts.filterNot {
      case IsNotNull(a: AttributeReference) => ids.contains(a.exprId)
      case _ => false
    }
    val buckets = Array.fill(vs.length)(List.empty[Expression])
    material.foreach { e =>
      val refs = e.references.toSeq.map(_.exprId).distinct
      val hit = if (refs.length == 1) ids.indexOf(refs.head) else -1
      if (hit < 0) return None // references none, several, or a non-sort col
      buckets(hit) ::= e
    }
    val per = vs.indices.map(i => boundsTopN(buckets(i), vs(i), pads(i)))
    if (per.exists(_.isEmpty)) return None
    val out = per.map(_.get)
    if (out.exists { case (lo, hi) => lo.isEmpty && hi.isEmpty }) None
    else Some(out)
  }

  /** STRICT, open-ended variant of [[bounds]] for the range-restricted
    * top-n ([[routeTopN]] doc): EVERY material conjunct must be
    * consumed into the range — a leftover conjunct would let the
    * re-applied Filter cut spliced rows and under-produce the limit —
    * and either bound may stay open (`value >= x ... LIMIT k`).
    * `IsNotNull(value)` debris is dropped (tautological on lookup
    * rows); tautological bounds (decimal lo <= 0, hi wider than the
    * declared width) are dropped as open; a provably-empty or
    * overflow-adjacent range declines (the unrouted plan computes the
    * same empty/rare answer). Returns `Some((lo, hi))` to route, None
    * to leave the plan alone.
    */
  private def boundsTopN(conjuncts: Seq[Expression], v: Attribute,
      pad: Int): Option[(Option[String], Option[String])] = {
    def isV(e: Expression): Boolean = e match {
      case a: AttributeReference => a.exprId == v.exprId
      case _ => false
    }
    val material = conjuncts.filterNot {
      case IsNotNull(a: AttributeReference) => a.exprId == v.exprId
      case _ => false
    }
    var ok = true
    if (pad > 0) {
      def castOfV(e: Expression): Boolean = e match {
        case c: Cast if isV(c.child) && (c.dataType == LongType ||
          c.dataType == IntegerType || c.dataType == ShortType) => true
        case _ => false
      }
      def litLong(e: Expression): Option[Long] = e match {
        case Literal(x: Long, LongType) => Some(x)
        case Literal(x: Int, IntegerType) => Some(x.toLong)
        case Literal(x: Short, ShortType) => Some(x.toLong)
        case _ => None
      }
      var lo = Option.empty[Long]
      var hi = Option.empty[Long]
      def addLo(x: Long): Unit = lo = Some(lo.fold(x)(math.max(_, x)))
      def addHi(x: Long): Unit = hi = Some(hi.fold(x)(math.min(_, x)))
      def excl(x: Long): Unit = if (x < Long.MaxValue) addLo(x + 1) else ok = false
      def incl(x: Long): Unit = if (x < Long.MaxValue) addHi(x + 1) else ok = false
      material.foreach { e =>
        val consumed: Option[Unit] = e match {
          case GreaterThanOrEqual(l, r) if castOfV(l) => litLong(r).map(addLo)
          case GreaterThan(l, r) if castOfV(l) => litLong(r).map(excl)
          case LessThan(l, r) if castOfV(l) => litLong(r).map(addHi)
          case LessThanOrEqual(l, r) if castOfV(l) => litLong(r).map(incl)
          case EqualTo(l, r) if castOfV(l) =>
            litLong(r).map { x => addLo(x); incl(x) }
          case EqualTo(l, r) if castOfV(r) =>
            litLong(l).map { x => addLo(x); incl(x) }
          // literal-first spellings mirror
          case GreaterThanOrEqual(l, r) if castOfV(r) => litLong(l).map(incl)
          case GreaterThan(l, r) if castOfV(r) => litLong(l).map(addHi)
          case LessThan(l, r) if castOfV(r) => litLong(l).map(excl)
          case LessThanOrEqual(l, r) if castOfV(r) => litLong(l).map(addLo)
          case _ => None
        }
        if (consumed.isEmpty) ok = false
      }
      if (!ok) return None
      val loC = lo.filter(_ > 0) // lo <= 0 is a tautology: values >= 0
      if (hi.exists(h => h <= loC.getOrElse(0L))) return None // provably empty
      if (loC.exists(_.toString.length > pad)) return None // above every value
      val hiC = hi.filter(_.toString.length <= pad) // wider hi = tautology
      Some((loC.map(_.toString), hiC.map(_.toString)))
    } else {
      def litStr(e: Expression): Option[String] = e match {
        case Literal(s: UTF8String, StringType) => Some(s.toString)
        case _ => None
      }
      var lo = Option.empty[String]
      var hi = Option.empty[String]
      // UTF-8 byte order, matching the index's key encoding (see the
      // sibling bounds() comment / graft.kv.Utf8Order doc).
      def addLo(x: String): Unit = lo = Some(lo.fold(x)(graft.kv.Utf8Order.max(x, _)))
      def addHi(x: String): Unit = hi = Some(hi.fold(x)(graft.kv.Utf8Order.min(x, _)))
      material.foreach { e =>
        val consumed: Option[Unit] = e match {
          case GreaterThanOrEqual(l, r) if isV(l) => litStr(r).map(addLo)
          case LessThan(l, r) if isV(l) => litStr(r).map(addHi)
          case LessThanOrEqual(l, r) if isV(r) => litStr(l).map(addLo)
          case GreaterThan(l, r) if isV(r) => litStr(l).map(addHi)
          case _ => None
        }
        if (consumed.isEmpty) ok = false
      }
      if (!ok) return None
      if (lo.zip(hi).exists { case (l, h) => graft.kv.Utf8Order.compare(h, l) <= 0 })
        return None
      // a NUL-carrying bound would throw inside topNCovered; decline
      if ((lo ++ hi).exists(_.contains("\u0000"))) return None
      Some((lo, hi))
    }
  }
}

object KvIndexRouting {

  /** Master switch (default on once the rule is installed). Since r18
    * a routed plan reads at EXECUTION time like the unrouted plan it
    * replaced (class doc "Scale shape" — the r17 plan-time probe and
    * its freshness divergence are gone), so the remaining behavior
    * difference the switch escapes is the decimal-mode typed contract
    * ([[KvIndex]] class doc): a routed lookup fails LOUDLY on a
    * non-digit value where the unrouted CAST would null it out.
    */
  val EnabledKey = "spark.graft.kv.index.routing.enabled"

  /** Idempotently append the rule to the session's experimental
    * optimizations — the runtime installation path for sessions not
    * built `withExtensions` (the injected form rides
    * [[graft.GraftExtensions]]).
    */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[KvIndexRouting]))
      spark.experimental.extraOptimizations = cur :+ KvIndexRouting(spark)
    // The rewrite emits [[KvRoutedLookup]] nodes; the strategy that
    // plans them must ride along or the session could build a logical
    // plan it cannot execute.
    val strats = spark.experimental.extraStrategies
    if (!strats.contains(KvRoutedLookupStrategy))
      spark.experimental.extraStrategies = strats :+ KvRoutedLookupStrategy
  }
}
