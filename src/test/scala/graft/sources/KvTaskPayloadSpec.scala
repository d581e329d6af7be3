package graft.sources

import java.nio.ByteBuffer
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration

import graft.SparkSpec
import graft.kv.{Cell, KvGenerator}

/** What a graft-kv task carries: every reader and writer factory is
  * serialized into each task by Spark's closure serializer, so the
  * session's Hadoop conf must reach tasks by broadcast, not inside the
  * factory — embedded, it adds ~100 KB to every task and one conf
  * deserialization to every task's start-up.
  */
class KvTaskPayloadSpec extends SparkSpec {

  private val MaxFactoryBytes = 16 * 1024

  private lazy val dir: String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_task_payload"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    KvGenerator.cells(spark, 500, 2, "payload")
      .write.format("graft-kv").option("regions", 4).mode("overwrite").save(d)
    d
  }

  private def closureBytes(o: AnyRef): Int = {
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    val buf: ByteBuffer = ser.serialize(o)
    buf.limit()
  }

  private def conf =
    new SerializableConfiguration(spark.sessionState.newHadoopConf())

  test("the session's Hadoop conf alone is past the factory bound") {
    // keeps the bound below meaningful: a factory embedding the conf fails it
    closureBytes(conf) should be > MaxFactoryBytes
  }

  test("reader factories of a batch scan and a tail stream stay small") {
    val scan = new KvScanBuilder(dir).build().toBatch
    closureBytes(scan.createReaderFactory()) should be < MaxFactoryBytes
    val tail = new KvTailStream(dir, Cell.schema, Array.empty, None, conf)
    closureBytes(tail.createReaderFactory()) should be < MaxFactoryBytes
  }

  test("batch (plain and salted), streaming and row-level writer factories stay small") {
    val plain = new KvBatchWrite(dir, Cell.schema, false, conf)
    closureBytes(plain.createBatchWriterFactory(null)) should be < MaxFactoryBytes
    val salted = new KvBatchWrite(dir, Cell.schema, false, conf,
      saltOnWrite = Some(4))
    closureBytes(salted.createBatchWriterFactory(null)) should be < MaxFactoryBytes
    val streaming = new KvStreamingWrite(dir, Cell.schema, "payload-query", conf)
    closureBytes(streaming.createStreamingWriterFactory(null)) should be <
      MaxFactoryBytes
    val replace = new KvReplaceDataBatchWrite(dir, Cell.schema, conf,
      new AtomicReference[Seq[String]](Nil))
    closureBytes(replace.createBatchWriterFactory(null)) should be < MaxFactoryBytes
  }

  test("a write and a scan through the broadcast conf read back the written cells") {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_task_payload_rw"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    val cells = KvGenerator.cells(spark, 300, 2, "payload_rw")
    cells.write.format("graft-kv").option("regions", 3).mode("overwrite").save(d)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.selectExpr("rowKey", "family", "qualifier", "ts", "hex(value)").collect()
        .map(_.mkString("|")).sorted.toSeq
    val back = spark.read.format("graft-kv").load(d)
    rows(back) shouldBe rows(cells)
    rows(back.filter(col("rowKey") < "00100")) shouldBe
      rows(cells.filter(col("rowKey") < "00100"))
  }
}
