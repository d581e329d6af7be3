package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.kv.Cell
import graft.ops.KvPivot

/** A1/A2/P1–P4 semantics (SURVEY §2.2–2.3) — the intended semantics the
  * reference's streaming group-by implements (minus its lastRowKey/cleanup
  * bugs, which a group-by makes impossible).
  */
class KvPivotSpec extends SparkSpec {
  import spark.implicits._

  private def cells(rows: (String, String, String, String, Long)*): DataFrame =
    spark.createDataset(rows.map { case (k, f, q, v, ts) =>
      Cell(k, f, q, v.getBytes("UTF-8"), ts)
    }).toDF()

  private def str(df: DataFrame, cols: String*): DataFrame =
    df.select(col("rowKey") +: cols.map(c => col(c).cast("string").as(c)): _*)

  test("pivot emits one row per rowKey with schema-ordered columns (A1/P1)") {
    val in = cells(
      ("r1", "f", "a", "1", 0), ("r1", "f", "b", "2", 1),
      ("r2", "f", "a", "3", 2))
    val out = str(KvPivot.pivot(in, Seq("a", "b")), "a", "b")
      .orderBy("rowKey").collect().map(_.toSeq)
    out shouldBe Array(Seq("r1", "1", "2"), Seq("r2", "3", null))
  }

  test("duplicate qualifier within a row: last write (max ts) wins (A2)") {
    val in = cells(
      ("r1", "f", "a", "old", 10), ("r1", "f", "a", "new", 20),
      ("r1", "f", "a", "older", 5))
    val out = str(KvPivot.pivot(in, Seq("a")), "a").collect().map(_.toSeq)
    out shouldBe Array(Seq("r1", "new"))
  }

  test("missing column stays null (P3); projectDelimited renders it empty (P2)") {
    val in = cells(("r1", "f", "a", "1", 0))
    val piv = KvPivot.pivot(in, Seq("a", "gone"))
    str(piv, "gone").collect().head.getString(1) shouldBe null
    val delim = KvPivot.projectDelimited(piv, Seq("a", "gone"))
      .collect().head.toSeq
    delim shouldBe Seq("r1", "1", "")
  }

  test("rowKey injection fills only the named column, only when absent (P4)") {
    val in = cells(
      ("r1", "f", "a", "1", 0),                       // KEY absent -> injected
      ("r2", "f", "KEY", "explicit", 0))              // KEY present -> kept
    val out = str(KvPivot.pivot(in, Seq("a", "KEY"), rowKeyCol = Some("KEY")), "a", "KEY")
      .orderBy("rowKey").collect().map(_.toSeq)
    out shouldBe Array(Seq("r1", "1", "r1"), Seq("r2", null, "explicit"))
  }

  test("rowKeyCol not in schema is a no-op") {
    val in = cells(("r1", "f", "a", "1", 0))
    KvPivot.pivot(in, Seq("a"), rowKeyCol = Some("KEY")).columns shouldBe
      Array("rowKey", "a")
  }

  test("family filter scans only the requested family (S2)") {
    val in = cells(
      ("r1", "f", "a", "keep", 0), ("r1", "g", "a", "drop", 99))
    val out = str(KvPivot.pivot(in, Seq("a"), family = Some("f")), "a")
      .collect().map(_.toSeq)
    out shouldBe Array(Seq("r1", "keep"))
  }

  test("out-of-schema qualifiers are ignored but still anchor their row") {
    val in = cells(("r1", "f", "a", "1", 0), ("r1", "f", "junk", "x", 99))
    val out = KvPivot.pivot(in, Seq("a"))
    out.columns shouldBe Array("rowKey", "a")
    str(out, "a").collect().map(_.toSeq) shouldBe Array(Seq("r1", "1"))
  }

  test("a rowKey whose cells are ALL out-of-schema still emits one row " +
    "(reference emits per scanned key, Txt:148-164)") {
    val in = cells(("r1", "f", "a", "1", 0), ("r2", "f", "other", "x", 0))
    val out = str(KvPivot.pivot(in, Seq("a", "KEY"), rowKeyCol = Some("KEY")), "a", "KEY")
      .orderBy("rowKey").collect().map(_.toSeq)
    out shouldBe Array(Seq("r1", "1", "r1"), Seq("r2", null, "r2"))
    // and identically in the presorted variant
    val laid = graft.kv.RangeLayout.layout(in, 2)
    val pre = str(KvPivot.pivotPresorted(laid, Seq("a", "KEY"), rowKeyCol = Some("KEY")), "a", "KEY")
      .orderBy("rowKey").collect().map(_.toSeq)
    pre shouldBe out
  }

  test("single-row and empty tables") {
    val single = cells(("only", "f", "a", "v", 0))
    KvPivot.pivot(single, Seq("a")).count() shouldBe 1
    val empty = cells()
    KvPivot.pivot(empty, Seq("a")).count() shouldBe 0
  }

  test("lineOf keeps empty fields between delimiters (F5, Txt:176-182)") {
    val in = cells(("r1", "f", "c", "3", 0))
    val line = KvPivot.pivot(in, Seq("a", "b", "c"))
      .select(KvPivot.lineOf(Seq("rowKey", "a", "b", "c"), "|").as("line"))
      .as[String].head()
    line shouldBe "r1|||3"
  }

  test("maxByTs equal-ts tie resolves to the lex-largest value, input-order independent") {
    import graft.functions.MaxByTsAgg.maxByTs
    val rows = Seq(
      ("k", "aa".getBytes("UTF-8"), 5L),
      ("k", "ab".getBytes("UTF-8"), 5L), // same ts, lex-larger value
      ("k", "zz".getBytes("UTF-8"), 1L)) // older ts: loses regardless
    for (perm <- rows.permutations) {
      val df = perm.toDF("rowKey", "value", "ts").repartition(3)
      val got = df.groupBy(col("rowKey"))
        .agg(maxByTs(col("value"), col("ts")).as("v"))
        .collect()(0).getAs[Array[Byte]]("v")
      new String(got, "UTF-8") shouldBe "ab"
    }
  }

  test("pivot row count == distinct rowKey count (property)") {
    val in = KvTableFixtures.randomCells(spark, 500, seed = 7)
    val piv = KvPivot.pivot(in, Seq("c0", "c1", "c2"))
    piv.count() shouldBe in.select("rowKey").distinct().count()
  }

  test("presorted pivot == shuffled pivot on range-laid-out input") {
    // dup keys, unique ts; equal-ts ties: PivotLawsSpec's presorted law
    val in = KvTableFixtures.randomCells(spark, 500, seed = 11)
    val cols = Seq("c0", "c1", "c2")
    val laid = graft.kv.RangeLayout.layout(in, 4)
    val a = str(KvPivot.pivotPresorted(laid, cols, rowKeyCol = Some("c2")), cols: _*)
      .collect().map(_.toSeq).toSet
    val b = str(KvPivot.pivot(in, cols, rowKeyCol = Some("c2")), cols: _*)
      .collect().map(_.toSeq).toSet
    a shouldBe b
  }

  test("presorted pivot plan has no exchange beyond the layout's own") {
    val in = KvTableFixtures.randomCells(spark, 200, seed = 13)
    val laid = graft.kv.RangeLayout.layout(in, 4)
    val plan = KvPivot.pivotPresorted(laid, Seq("c0")).queryExecution
      .executedPlan.toString
    // exactly the range-partitioning exchange from layout(), none for the pivot
    plan.split("Exchange").length - 1 shouldBe 1
  }

  test("retainVersions: newest k per cell coordinate, deterministic ranks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cells = Seq(
      ("k1", "c", "C0", "v1", 10L), ("k1", "c", "C0", "v2", 30L),
      ("k1", "c", "C0", "v3", 20L), // 3 versions of one coordinate
      ("k1", "c", "C1", "w1", 5L), // different qualifier: own history
      ("k2", "c", "C0", "x1", 99L))
      .toDF("rowKey", "family", "qualifier", "value", "ts")
      .withColumn("value", encode(col("value"), "UTF-8"))
    val kept = KvPivot.retainVersions(cells, k = 2)
      .select(col("rowKey"), col("qualifier"), col("version"),
        decode(col("value"), "UTF-8").as("value"), col("ts"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet
    kept shouldBe Set(
      ("k1", "C0", 1L, "v2", 30L), ("k1", "C0", 2L, "v3", 20L), // v1 evicted
      ("k1", "C1", 1L, "w1", 5L),
      ("k2", "C0", 1L, "x1", 99L))
    // k = 1 is the LWW the pivot applies while no two versions share a ts
    KvPivot.retainVersions(cells, k = 1)
      .filter(col("rowKey") === "k1" && col("qualifier") === "C0")
      .select(decode(col("value"), "UTF-8")).as[String].collect() shouldBe Array("v2")
  }

  test("compactTombstones: marker masks puts at or before its ts, markers dropped") {
    import org.apache.spark.sql.functions._
    val puts = Seq(
      ("k1", "C0", "old", 10L), ("k1", "C0", "atMark", 20L),
      ("k1", "C0", "new", 30L), // only this C0 survives the ts=20 marker
      ("k1", "C1", "other", 5L), // different qualifier: untouched
      ("k2", "C0", "noTomb", 1L)) // coordinate without a marker
      .toDF("rowKey", "qualifier", "value", "ts")
      .withColumn("value", encode(col("value"), "UTF-8"))
    val tombs = Seq(("k1", "C0", 20L)).toDF("rowKey", "qualifier", "ts")
    val out = KvPivot.compactTombstones(puts, tombs)
      .select(col("rowKey"), col("qualifier"),
        decode(col("value"), "UTF-8").as("value"), col("ts"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    out shouldBe Set(
      ("k1", "C0", "new", 30L),
      ("k1", "C1", "other", 5L),
      ("k2", "C0", "noTomb", 1L))
  }

  test("snapshot diff: insert/delete/update per cell, LWW-resolved per side") {
    def cells(rows: (String, String, String, Long)*): DataFrame =
      rows.toDF("rowKey", "qualifier", "v", "ts")
        .select(col("rowKey"), lit("f").as("family"), col("qualifier"),
          encode(col("v"), "UTF-8").as("value"), col("ts"))
    val older = cells(
      ("k1", "a", "old", 1L), ("k1", "a", "older", 0L), // LWW → "old"
      ("k2", "a", "gone", 1L),
      ("k3", "a", "same", 1L))
    val newer = cells(
      ("k1", "a", "new", 2L),   // update (old -> new)
      ("k3", "a", "same", 9L),  // unchanged: not a diff row
      ("k4", "a", "born", 1L))  // insert
    val out = graft.ops.SnapshotDiff.diff(older, newer)
      .select(col("rowKey"), col("change"),
        decode(col("old_value"), "UTF-8").as("o"),
        decode(col("new_value"), "UTF-8").as("n"))
      .as[(String, String, String, String)].collect().sortBy(_._1)
    out shouldBe Array(
      ("k1", "update", "old", "new"),
      ("k2", "delete", "gone", null),
      ("k4", "insert", null, "born"))
  }
}

/** Deterministic pseudo-random cell fixture shared by property-ish tests. */
object KvTableFixtures {
  import org.apache.spark.sql.SparkSession

  def randomCells(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    spark.range(n).selectExpr(
      s"concat('k', cast(floor(rand($seed) * 50) as int)) as rowKey",
      "'f' as family",
      s"concat('c', cast(floor(rand(${seed + 1}) * 3) as int)) as qualifier",
      "encode(cast(id as string), 'UTF-8') as value",
      "id as ts")
  }
}
