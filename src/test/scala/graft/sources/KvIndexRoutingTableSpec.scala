package graft.sources

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._

/** The [[KvIndexRouting]] decision table: one predicate per row, each
  * planned through all four routes — the value range (`Range`), the
  * composite range (`Composite`), the top-n (`TopN`) and the composite
  * top-n (`TopNComposite`) — and the spliced [[KvRoutedLookup]] node's
  * `bounds` read from the optimized plan. A cell is the bounds the
  * route served (`[lo,hi)` per key component, an open side empty) or
  * `-` when the route declined; `n/a` marks a predicate a
  * single-column pivot cannot spell. Wherever a route serves, the
  * answer must equal the unrouted plan's.
  *
  * The composite shapes add a fixed closed range on the second key
  * component, so each row's decision rests on its own predicate over
  * the leading component.
  */
class KvIndexRoutingTableSpec extends graft.SparkSpec {

  private val dir =
    s"${sys.props("java.io.tmpdir")}/graft_test/kv_routing_table"

  /** 200 keys carrying two decimal qualifiers (`a` = 5·id, `b` = 7·id
    * mod 100) and two string qualifiers (`s` = k000..k199, `t` = 3·id
    * mod 200 as t000..t199); covered single-component indexes on `a`
    * (pad 6) and `s` (string order), composite indexes on (a, b) and
    * (s, t). 800 base cells: every range below prices selective.
    */
  private lazy val table: String = {
    graft.sinks.Sinks.deleteRecursive(spark, dir)
    def q(name: String, value: String) = spark.range(200).selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey", "'f' AS family",
      s"'$name' AS qualifier", s"encode($value, 'UTF-8') AS value", "id AS ts")
    q("a", "CAST(id * 5 AS STRING)")
      .unionAll(q("b", "CAST((id * 7) % 100 AS STRING)"))
      .unionAll(q("s", "concat('k', lpad(CAST(id AS STRING), 3, '0'))"))
      .unionAll(q("t", "concat('t', lpad(CAST((id * 3) % 200 AS STRING), 3, '0'))"))
      .write.format("graft-kv").option("regions", 2).mode("overwrite").save(dir)
    KvIndex.create(spark, dir, "idx_a", "f", "a", pad = 6, covered = true)
    KvIndex.create(spark, dir, "idx_s", "f", "s", covered = true)
    KvIndex.create(spark, dir, "idx_ab", "f", "a", pad = 6, rest = Seq(("b", 6)))
    KvIndex.create(spark, dir, "idx_st", "f", "s", rest = Seq(("t", 0)))
    KvIndexRouting.install(spark)
    dir
  }

  /** The LWW pivot over the given qualifiers, one column per qualifier. */
  private def pivot(quals: String*): DataFrame = {
    val cells = spark.read.format("graft-kv").load(table)
      .filter(col("family") === "f" && col("qualifier").isin(quals: _*))
    val cols = quals.map { q =>
      val ord = if (quals.length == 1) col("ts")
        else when(col("qualifier") === q, col("ts"))
      decode(graft.functions.MaxByTsAgg.maxByTs(col("value"), ord), "UTF-8").as(q)
    }
    cells.groupBy(col("rowKey")).agg(cols.head, cols.tail: _*)
  }

  private def c(x: Column): Column = x.cast("long")

  /** A pivot column in its index's collation: the sort expression. */
  private def collated(decimal: Boolean)(x: Column): Column =
    if (decimal) c(x) else x

  private case class Row(name: String, decimal: Boolean,
      pred: (Column, Option[Column]) => Column,
      range: String, composite: String, topN: String, topNComposite: String)

  private def dec(name: String, p: Column => Column, range: String,
      composite: String, topN: String, topNComposite: String) =
    Row(name, decimal = true, (x, _) => p(x), range, composite, topN, topNComposite)

  private def str(name: String, p: Column => Column, range: String,
      composite: String, topN: String, topNComposite: String) =
    Row(name, decimal = false, (x, _) => p(x), range, composite, topN, topNComposite)

  private val nul = "k01\u0000"

  private val rows = Seq(
    dec("closed range", x => c(x) >= 10 && c(x) < 20,
      "[10,20)", "[10,20) [1,100)", "[10,20)", "[10,20) [1,100)"),
    dec("literal-first >= and <", x => lit(10) <= c(x) && lit(20) > c(x),
      "[10,20)", "[10,20) [1,100)", "[10,20)", "[10,20) [1,100)"),
    dec("literal-first > and <=", x => lit(9) < c(x) && lit(19) >= c(x),
      "[10,20)", "[10,20) [1,100)", "[10,20)", "[10,20) [1,100)"),
    dec("decimal =", x => c(x) === 15,
      "[15,16)", "[15,16) [1,100)", "[15,16)", "[15,16) [1,100)"),
    dec("literal-first =", x => lit(15) === c(x),
      "[15,16)", "[15,16) [1,100)", "[15,16)", "[15,16) [1,100)"),
    dec("> Long.MaxValue", x => c(x) > Long.MaxValue && c(x) < 20,
      "[0,20)", "[0,20) [1,100)", "-", "-"),
    dec("<= Long.MaxValue", x => c(x) >= 10 && c(x) <= Long.MaxValue,
      "-", "-", "-", "-"),
    dec("= Long.MaxValue", x => c(x) === Long.MaxValue && c(x) < 20,
      "-", "-", "-", "-"),
    dec("negative lo", x => c(x) >= -5 && c(x) < 20,
      "[0,20)", "[0,20) [1,100)", "[,20)", "[,20) [1,100)"),
    dec("zero lo alone", x => c(x) >= 0,
      "-", "-", "[,)", "-"),
    dec("empty range", x => c(x) >= 20 && c(x) < 20,
      "-", "-", "-", "-"),
    dec("negative hi", x => c(x) < -3,
      "-", "-", "-", "-"),
    dec("over-width lo", x => c(x) >= 10000000 && c(x) < 20000000,
      "-", "-", "-", "-"),
    dec("over-width hi", x => c(x) >= 10 && c(x) < 10000000,
      "-", "-", "[10,)", "[10,) [1,100)"),
    dec("IsNotNull debris", x => x.isNotNull && c(x) >= 10 && c(x) < 20,
      "[10,20)", "[10,20) [1,100)", "[10,20)", "[10,20) [1,100)"),
    Row("conjunct over two components", decimal = true,
      (x, y) => c(x) >= 10 && c(x) < 20 && c(x) > c(y.get),
      "n/a", "[10,20) [1,100)", "n/a", "-"),
    dec("residual rowKey conjunct",
      x => c(x) >= 10 && c(x) < 20 && col("rowKey") > "000001",
      "-", "-", "-", "-"),
    dec("residual value conjunct",
      x => c(x) >= 10 && c(x) < 20 && functions.length(x) === 2,
      "[10,20)", "[10,20) [1,100)", "-", "-"),
    str("string >= and <", x => x >= "k010" && x < "k020",
      "[k010,k020)", "[k010,k020) [t000,t100)", "[k010,k020)",
      "[k010,k020) [t000,t100)"),
    str("string literal-first", x => lit("k010") <= x && lit("k020") > x,
      "[k010,k020)", "[k010,k020) [t000,t100)", "[k010,k020)",
      "[k010,k020) [t000,t100)"),
    str("string > and <=", x => x > "k010" && x <= "k020",
      "-", "-", "-", "-"),
    str("string open hi", x => x >= "k190",
      "-", "-", "[k190,)", "[k190,) [t000,t100)"),
    str("NUL literal alone", x => x >= nul && x < "k020",
      "-", "-", "-", "-"),
    // the top-n routes read every conjunct or decline: a NUL literal is
    // unread even where a tighter bound makes it redundant
    str("NUL literal dominated", x => x >= nul && x >= "k015" && x < "k020",
      "[k015,k020)", "[k015,k020) [t000,t100)", "-", "-")
  )

  private def render(n: KvRoutedLookup): String =
    n.bounds.map { case (lo, hi) =>
      s"[${lo.getOrElse("")},${hi.getOrElse("")})" }.mkString(" ")

  /** Plan `df`, read the bounds of its `kind` node (`-` when none), and
    * check that a routed answer equals the unrouted one.
    */
  private def decide(df: => DataFrame, kind: KvRoutedLookup.Kind,
      ordered: Boolean): String = {
    val routed = df
    val node = routed.queryExecution.optimizedPlan.collectFirst {
      case n: KvRoutedLookup if n.kind == kind => n
    }
    node.foreach { _ =>
      val got = routed.collect().map(_.toSeq).toSeq
      spark.conf.set(KvIndexRouting.EnabledKey, "false")
      val want = try df.collect().map(_.toSeq).toSeq
        finally spark.conf.unset(KvIndexRouting.EnabledKey)
      if (ordered) got shouldBe want
      else got.map(_.mkString("|")).sorted shouldBe want.map(_.mkString("|")).sorted
    }
    node.fold("-")(render)
  }

  test("every row routes or declines as tabulated on all four routes") {
    val decided = rows.map { r =>
      val (x, y) = if (r.decimal) ("a", "b") else ("s", "t")
      val sort = collated(r.decimal) _
      val second: Column =
        if (r.decimal) c(col(y)) >= 1 && c(col(y)) < 100
        else col(y) >= "t000" && col(y) < "t100"
      def single = pivot(x).filter(r.pred(col(x), None))
      def pair = pivot(x, y).filter(r.pred(col(x), Some(col(y))) && second)
      def na(want: String)(d: => String) = if (want == "n/a") "n/a" else d
      (r.name,
        na(r.range)(decide(single, KvRoutedLookup.Range, ordered = false)),
        decide(pair, KvRoutedLookup.Composite, ordered = false),
        na(r.topN)(decide(single.orderBy(sort(col(x)).desc, col("rowKey").desc)
          .limit(3), KvRoutedLookup.TopN, ordered = true)),
        decide(pair.orderBy(sort(col(x)).desc, sort(col(y)).desc,
          col("rowKey").desc).limit(3), KvRoutedLookup.TopNComposite,
          ordered = true))
    }
    decided shouldBe rows.map(r =>
      (r.name, r.range, r.composite, r.topN, r.topNComposite))
  }
}
