package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.Expression
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{Batch, SupportsPushDownAggregates, SupportsPushDownFilters}
import org.apache.spark.sql.functions.{col, encode}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** One read, one version: a commit that lands between a scan builder's
  * creation and its `build()` must not change what the scan answers. The
  * DSv2 calls are driven by hand so the commit sits exactly in that
  * window — after the builder's pushdown decisions, before planning.
  */
class KvReadVersionRaceSpec extends graft.SparkSpec {

  import spark.implicits._

  private val root = s"${sys.props("java.io.tmpdir")}/graft_test/kv_read_race"

  private def fresh(name: String): String = {
    val d = s"$root/$name"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    d
  }

  /** (rowKey, family, qualifier, value, ts); ts unique per cell. */
  private type C = (String, String, String, String, Long)

  private val cells: Seq[C] =
    for {
      k <- 0 until 40
      (q, j) <- Seq("a", "b").zipWithIndex
    } yield (f"k$k%03d", "f", q, s"v$k-$q", 100L + k * 2 + j)

  private def dfOf(cs: Seq[C]): DataFrame =
    cs.toDF("rowKey", "family", "qualifier", "v", "ts")
      .select(col("rowKey"), col("family"), col("qualifier"),
        encode(col("v"), "UTF-8").as("value"), col("ts"))

  private def builder(d: String) =
    new KvCellTable(d).newScanBuilder(CaseInsensitiveStringMap.empty())

  /** Every row the batch's partitions emit, read on the driver. */
  private def readAll(batch: Batch): Seq[InternalRow] = {
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().toSeq.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r).takeWhile(_.next()).map(_.get().copy()).toList
      finally r.close()
    }
  }

  test("a pushed COUNT(*) answers for the version its marker gate saw, not a DELETE committed after it") {
    val d = fresh("count_then_delete")
    dfOf(cells).write.format("graft-kv").option("regions", 2).mode("overwrite").save(d)
    val sb = builder(d)
    val countStar = new Aggregation(Array[AggregateFunc](new CountStar()),
      Array.empty[Expression])
    sb.asInstanceOf[SupportsPushDownAggregates].pushAggregation(countStar) shouldBe true
    // markers land after the gate found none
    KvDelete.deleteRows(spark, d, Seq("k007", "k011").toDF("rowKey"))
    val rows = readAll(sb.build().toBatch)
    rows.map(_.getLong(0)) shouldBe Seq(cells.size.toLong)
  }

  test("a pushed rowKey filter reads the pinned salted version across a resalt") {
    val d = fresh("filter_then_resalt")
    KvSalt.saltedWrite(dfOf(cells), d, n = 16, regions = 2, mode = "overwrite")
    val sb = builder(d)
    sb.asInstanceOf[SupportsPushDownFilters]
      .pushFilters(Array[Filter](EqualTo("rowKey", "k017")))
    KvResalt.resalt(spark, d, None) shouldBe a[KvResalt.Resalted]
    val got = readAll(sb.build().toBatch).map { r =>
      s"${r.getUTF8String(0)}|${r.getUTF8String(1)}|${r.getUTF8String(2)}|" +
        s"${new String(r.getBinary(3), "UTF-8")}|${r.getLong(4)}"
    }.sorted
    got shouldBe cells.filter(_._1 == "k017")
      .map { case (k, f, q, v, ts) => s"$k|$f|$q|$v|$ts" }.sorted
  }
}
