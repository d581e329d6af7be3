package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The [[KvIndex]] serving decision table: every read entry point, on a
  * fresh, a stale-servable and an unservable span
  * ([[KvIndexServingFixture]]), × a value range that matches nothing, a
  * narrow one and one past the `In` cap. A cell is the verification the
  * executed plan ran:
  *
  *  - `In`: the candidate keys went back to the base as a pushed `In`
  *    filter (per-key bloom-pruned gets);
  *  - `LeftSemi`: the base scan was semi-joined with the candidates;
  *  - `none`: no verification — index-only, the whole pinned frame, or
  *    an empty candidate set.
  *
  * Every cell's answer must equal the index-free oracle: the pinned
  * pivot filtered by the bounds, or for top-n sorted and cut to k.
  *
  * Where a tail keeps candidates that a range would exclude, the
  * "nothing" row still verifies: the composite tail is every key the
  * span touched on a key component, and a stale top-n verifies the
  * span's touched keys.
  */
class KvIndexServingTableSpec extends graft.SparkSpec {

  import KvIndexServingFixture._

  private lazy val tables = build(spark,
    s"${sys.props("java.io.tmpdir")}/graft_test/kv_serving_table")

  /** The candidate `In` filter Spark re-applies above the base scan: a
    * literal key list, not a join's dynamic pruning subquery.
    */
  private val InFilter = """rowKey#\d+ (IN \(|INSET )""".r

  private def verification(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    if (InFilter.findFirstIn(plan).isDefined) "In"
    else if (plan.contains("LeftSemi")) "LeftSemi"
    else "none"
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq

  /** Run `served`, check it against `oracle`, name its verification. */
  private def cell(served: => DataFrame, oracle: DataFrame,
      ordered: Boolean): String = {
    val df = served
    val (got, want) = (rows(df), rows(oracle))
    if (ordered) got shouldBe want else got.sorted shouldBe want.sorted
    verification(df)
  }

  private def num(q: String) = col(q).cast("long")

  /** A value range per row: lookups read `[lo, hi)`; top-n reads `k`
    * entries at or above `topLo`.
    */
  private case class Range(name: String, lo: String, hi: String,
      topLo: Option[String], k: Int)

  private val ranges = Seq(
    Range("nothing", "99990000", "99999999", Some("99990000"), 10),
    Range("narrow", "600", "660", None, 10),
    Range("over cap", "0", "99999999", None, KvIndex.InPushdownCap))

  private val AnyB = ("0", "99999999")

  private def entryPoints(dir: String, r: Range): Seq[String] = {
    val piv = pivot(spark, dir)
    val (lo, hi) = (r.lo.toLong, r.hi.toLong)
    val inA = piv.filter(num("a") >= lo && num("a") < hi)
    val top = r.topLo.fold(piv.filter(col("a").isNotNull))(l =>
      piv.filter(num("a") >= l.toLong))
    val withB = col("b").isNotNull && num("b") >= 0
    Seq(
      cell(KvIndex.lookup(spark, dir, "plain", r.lo, r.hi),
        inA.select("rowKey", "a"), ordered = false),
      cell(KvIndex.lookupCovered(spark, dir, "cov", r.lo, r.hi),
        inA.select("rowKey", "a", "c"), ordered = false),
      cell(KvIndex.lookupComposite(spark, dir, "ab", Seq((r.lo, r.hi), AnyB)),
        inA.filter(withB).select("rowKey", "a", "b"), ordered = false),
      cell(KvIndex.topNCovered(spark, dir, "cov", r.k, lo = r.topLo),
        top.orderBy(num("a").desc, col("rowKey").desc).limit(r.k)
          .select("rowKey", "a"), ordered = true),
      cell(KvIndex.topNComposite(spark, dir, "ab", r.k, desc = true,
          Seq((Some(r.topLo.getOrElse("0")), None), (Some("0"), None))),
        top.filter(withB).orderBy(num("a").desc, num("b").desc,
          col("rowKey").desc).limit(r.k).select("rowKey", "a", "b"),
        ordered = true))
  }

  //                           lookup      lookupCovered lookupComposite topNCovered topNComposite
  private val expected = Seq(
    ("fresh", "nothing") -> Seq("none", "none", "none", "none", "none"),
    ("fresh", "narrow") -> Seq("In", "none", "none", "none", "none"),
    ("fresh", "over cap") -> Seq("LeftSemi", "none", "none", "none", "none"),
    ("stale", "nothing") -> Seq("none", "none", "In", "In", "In"),
    ("stale", "narrow") -> Seq("In", "In", "In", "In", "In"),
    ("stale", "over cap") -> Seq("LeftSemi", "LeftSemi", "LeftSemi", "LeftSemi", "LeftSemi"),
    ("unservable", "nothing") -> Seq("none", "none", "none", "none", "none"),
    ("unservable", "narrow") -> Seq("In", "In", "none", "none", "none"),
    ("unservable", "over cap") -> Seq("LeftSemi", "LeftSemi", "none", "none", "none"))

  test("every entry point verifies as tabulated and answers like the index-free oracle") {
    val decided = for (span <- Spans; r <- ranges)
      yield (span, r.name) -> entryPoints(tables(span), r)
    decided shouldBe expected
  }
}
