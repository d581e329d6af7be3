package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The tables the [[KvIndex]] serving specs read: one base table in three
  * index states, each carrying the same three indexes.
  *
  *  - `fresh`: every index covers the latest seq.
  *  - `stale`: a servable span sits above the covered seq: keys 0..9
  *    move their `a` value (3i → 3i+1), five new keys 6000..6004 arrive
  *    with `a` in [601, 614), and key 20 is deleted. The span touches 16
  *    base keys.
  *  - `unservable`: the same span, then a resalt, so the CDC span
  *    crosses a salt-layout declaration and cannot be replayed.
  *
  * The base holds [[N]] keys with three qualifiers in family `f`: `a` =
  * 3·id (decimal), `b` = 7·id mod 1000 (decimal) and `c` = `c<id>`. The
  * indexes are `plain` (append-only, on `a`, pad 8), `cov` (covered, on
  * `a`, pad 8, include `c`) and `ab` (composite on `a`, `b`, pads 8).
  * Every value is unique per qualifier, so top-n answers have no ties.
  */
object KvIndexServingFixture {

  val N = 6000
  val Spans = Seq("fresh", "stale", "unservable")

  private def cells(spark: SparkSession, ids: DataFrame, a: String,
      tsExpr: String): DataFrame = {
    def q(name: String, value: String) = ids.selectExpr(
      "lpad(CAST(id AS STRING), 6, '0') AS rowKey", "'f' AS family",
      s"'$name' AS qualifier", s"encode($value, 'UTF-8') AS value",
      s"$tsExpr AS ts")
    q("a", a)
      .unionAll(q("b", "CAST((id * 7) % 1000 AS STRING)"))
      .unionAll(q("c", "concat('c', CAST(id AS STRING))"))
  }

  /** Build the three tables under `root`; returns span name → path. */
  def build(spark: SparkSession, root: String): Map[String, String] = {
    import spark.implicits._
    Spans.map { span =>
      val dir = s"$root/$span"
      graft.sinks.Sinks.deleteRecursive(spark, dir)
      cells(spark, spark.range(N.toLong).toDF("id"), "CAST(id * 3 AS STRING)", "id")
        .write.format("graft-kv").option("regions", 4).mode("overwrite").save(dir)
      KvIndex.create(spark, dir, "plain", "f", "a", pad = 8)
      KvIndex.create(spark, dir, "cov", "f", "a", pad = 8, include = Seq("c"))
      KvIndex.create(spark, dir, "ab", "f", "a", pad = 8, rest = Seq(("b", 8)))
      if (span != "fresh") {
        spark.range(10).selectExpr(
            "lpad(CAST(id AS STRING), 6, '0') AS rowKey", "'f' AS family",
            "'a' AS qualifier", "encode(CAST(id * 3 + 1 AS STRING), 'UTF-8') AS value",
            "100000 + id AS ts")
          .write.format("graft-kv").option("regions", 1).mode("append").save(dir)
        cells(spark, spark.range(N.toLong, N + 5L).toDF("id"),
          s"CAST(601 + (id - $N) * 3 AS STRING)", "100000 + id")
          .write.format("graft-kv").option("regions", 1).mode("append").save(dir)
        KvDelete.deleteRows(spark, dir, Seq("000020").toDF("rowKey"))
      }
      if (span == "unservable")
        assert(KvResalt.resalt(spark, dir, Some(4)).isInstanceOf[KvResalt.Resalted])
      span -> dir
    }.toMap
  }

  /** The index-free oracle: the base's current (last-write-wins,
    * delete-masked) `a`, `b`, `c` per key, null where absent.
    */
  def pivot(spark: SparkSession, dir: String): DataFrame = {
    val quals = Seq("a", "b", "c")
    val latest = quals.map(q => decode(graft.functions.MaxByTsAgg.maxByTs(
      col("value"), when(col("qualifier") === q, col("ts"))), "UTF-8").as(q))
    spark.read.format("graft-kv").load(dir)
      .filter(col("family") === "f" && col("qualifier").isin(quals: _*))
      .groupBy(col("rowKey"))
      .agg(latest.head, latest.tail: _*)
  }
}
