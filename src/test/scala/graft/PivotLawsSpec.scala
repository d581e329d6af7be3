package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.functions.MaxByTsAgg
import graft.ops.KvPivot

/** Property-based laws (SURVEY §5): the pivot and the custom LWW aggregate
  * checked against executable specifications over random cell sets —
  * duplicate keys, duplicate qualifiers, sparse rows, empty inputs.
  * Sample counts are small (each sample runs Spark jobs) but seeded, so a
  * failure reproduces.
  */
class PivotLawsSpec extends SparkSpec {
  import spark.implicits._

  private val Schema = Seq("C0", "C1", "C2")

  /** Random cell sets: ≤8 keys × 3 qualifiers, ts unique per (key, qual)
    * occurrence, so the built-in `max_by` is a valid reference. Equal-ts
    * ties are specified ([[MaxByTsAgg.wins]]) and covered by the edge-cell
    * laws below.
    */
  private val cellsGen: Gen[List[(String, String, String, String, Long)]] = for {
    n <- Gen.choose(0, 50)
    raw <- Gen.listOfN(n, for {
      k <- Gen.choose(0, 7)
      q <- Gen.oneOf(Schema :+ "OUT") // OUT = qualifier outside the schema
      v <- Gen.choose(0, 999)
    } yield (s"key$k", "f", q, s"v$v"))
  } yield raw.zipWithIndex.map { case ((k, f, q, v), i) => (k, f, q, v, i.toLong) }

  private def toCells(cells: List[(String, String, String, String, Long)]) =
    cells.toDF("rowKey", "family", "qualifier", "v", "ts")
      .select(col("rowKey"), col("family"), col("qualifier"),
        encode(col("v"), "UTF-8").as("value"), col("ts"))

  private def run(name: String, p: Prop): Unit =
    checkProp(name, p, seed = 42L, samples = 12)

  test("law: pivot emits exactly one row per distinct scanned rowKey") {
    run("rowcount", Prop.forAll(cellsGen) { cells =>
      val got = KvPivot.pivot(toCells(cells), Schema).count()
      got == cells.map(_._1).distinct.size.toLong
    })
  }

  test("law: every pivot cell equals the max-ts cell of its (rowKey, qualifier)") {
    run("lww", Prop.forAll(cellsGen) { cells =>
      val expected: Map[(String, String), String] =
        cells.filter(c => Schema.contains(c._3))
          .groupBy(c => (c._1, c._3))
          .map { case (kq, cs) => kq -> cs.maxBy(_._5)._4 }
      val got = KvPivot.pivot(toCells(cells), Schema)
        .select(col("rowKey") +: Schema.map(c => decode(col(c), "UTF-8").as(c)): _*)
        .collect()
        .flatMap(r => Schema.zipWithIndex.collect {
          case (q, i) if !r.isNullAt(i + 1) => (r.getString(0), q) -> r.getString(i + 1)
        }).toMap
      got == expected
    })
  }

  test("law: delimited lines always have schema arity, however sparse the row") {
    run("arity", Prop.forAll(cellsGen) { cells =>
      val piv = KvPivot.pivot(toCells(cells), Schema)
      KvPivot.projectLines(piv, Schema, "|").as[String].collect()
        .forall(_.count(_ == '|') == Schema.size - 1)
    })
  }

  test("hot key: one rowKey with 500k cells pivots in O(1) buffer (no skew blowup)") {
    // The aggregate buffer is one (ts, value) per column regardless of the
    // cells-per-key count — the skew property that makes the pivot safe when
    // a single row key holds millions of cells.
    val hot = spark.range(500000).selectExpr(
      "'hot' AS rowKey", "'f' AS family",
      "CASE id % 3 WHEN 0 THEN 'C0' WHEN 1 THEN 'C1' ELSE 'C2' END AS qualifier",
      "encode(CAST(id AS STRING), 'UTF-8') AS value", "id AS ts")
    val got = KvPivot.pivot(hot, Schema)
      .select(col("rowKey") +: Schema.map(c => decode(col(c), "UTF-8").as(c)): _*)
      .collect()
    got.length shouldBe 1
    // winners: the max-ts cell per qualifier (id % 3 == 0/1/2)
    got.head.toSeq shouldBe Seq("hot", "499998", "499999", "499997")
  }

  /** Cells with every edge the N-slot pivot must match the per-column
    * formulation on: equal-ts ties between different values, null values,
    * null ts, null and out-of-schema qualifiers.
    */
  private val edgeCellsGen: Gen[List[(String, Option[String], Option[String], Option[Long])]] =
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.choose(0, 5)
      q <- Gen.oneOf(Schema.map(Some(_)) :+ Some("OUT") :+ None)
      v <- Gen.oneOf(None, Some("a"), Some("b"), Some("ab"), Some(""))
      ts <- Gen.frequency(1 -> Gen.const(None), 5 -> Gen.choose(0L, 3L).map(Some(_)))
    } yield (s"key$k", q, v, ts)))

  /** The per-column formulation the pivot replaced: one `maxByTs` per
    * schema column, ordered by ts where the qualifier matches.
    */
  private def perColumnPivot(cells: org.apache.spark.sql.DataFrame,
      columns: Seq[String]): org.apache.spark.sql.DataFrame = {
    val aggs = columns.map(c => MaxByTsAgg.maxByTs(col("value"),
      when(col("qualifier") === c, col("ts"))).as(c))
    cells.groupBy(col("rowKey")).agg(aggs.head, aggs.tail: _*)
  }

  /** rowKey -> the row's remaining columns, by position (schema columns may
    * repeat a name), value bytes as sequences.
    */
  private def byKey(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Option[Seq[Byte]]]] =
    df.collect().map(r => r.getString(0) -> (1 until r.length).map(i =>
      Option(r.getAs[Array[Byte]](i)).map(_.toSeq))).toMap

  test("law: the one-aggregate pivot equals the per-column maxByTs pivot, edge cells included") {
    val columns = Seq("C1", "C0", "C2", "C0") // a duplicate schema column
    // fallback threshold 1: the partial aggregates also take the
    // sort-based path, which serializes and merges buffers within a task
    for (threshold <- Seq(None, Some("1"))) {
      val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
      threshold.foreach(spark.conf.set(key, _))
      try run(s"slots-vs-per-column(threshold=$threshold)", Prop.forAll(edgeCellsGen) { raw =>
        val cells = spark.sparkContext.parallelize(raw, 3)
          .toDF("rowKey", "qualifier", "v", "ts")
          .select(col("rowKey"), col("qualifier"),
            encode(col("v"), "UTF-8").as("value"), col("ts"))
        byKey(KvPivot.pivot(cells, columns)) == byKey(perColumnPivot(cells, columns))
      }) finally spark.conf.unset(key)
    }
  }

  test("law: the presorted pivot equals the hash pivot on key-contiguous input, edge cells included") {
    val columns = Seq("C1", "C0", "C2", "C0")
    run("presorted-vs-hash", Prop.forAll(edgeCellsGen) { raw =>
      // one partition, each key's cells adjacent — in generation order and
      // reversed, so an equal-ts tie reaches the group in both orders
      val byKeyRuns = raw.groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
      Seq(byKeyRuns.flatten, byKeyRuns.flatMap(_.reverse)).forall { ordered =>
        val cells = spark.sparkContext.parallelize(ordered, 1)
          .toDF("rowKey", "qualifier", "v", "ts")
          .select(col("rowKey"), col("qualifier"),
            encode(col("v"), "UTF-8").as("value"), col("ts"))
        byKey(KvPivot.pivotPresorted(cells, columns, rowKeyCol = Some("C2"))) ==
          byKey(KvPivot.pivot(cells, columns, rowKeyCol = Some("C2")))
      }
    })
  }

  test("law: MaxByTsAgg agrees with built-in max_by wherever ties cannot occur") {
    run("maxByTs", Prop.forAll(cellsGen) { cells =>
      val df = toCells(cells)
      val a = df.groupBy(col("rowKey"))
        .agg(MaxByTsAgg.maxByTs(col("value"), col("ts")).as("v"))
        .select(col("rowKey"), decode(col("v"), "UTF-8").as("v"))
        .as[(String, String)].collect().toMap
      val b = df.groupBy(col("rowKey"))
        .agg(max_by(col("value"), col("ts")).as("v"))
        .select(col("rowKey"), decode(col("v"), "UTF-8").as("v"))
        .as[(String, String)].collect().toMap
      a == b
    })
  }
}
