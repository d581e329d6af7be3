package graft.sources

import java.net.URL
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader

import graft.SparkSpec
import graft.kv.{Cell, KvGenerator}

/** A graft-kv reader opens its file with the task's conf and nothing else:
  * building it must not construct and read a default Hadoop
  * `Configuration`, which parses `core-default.xml` again for every file a
  * task opens. A `Configuration` resolves its default resources through
  * the context class loader of the thread that created it, so a counting
  * loader installed around the build sees every such parse.
  */
class KvReaderConfSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_test/kv_reader_conf"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    KvGenerator.cells(spark, 200, 2, "reader_conf")
      .write.format("graft-kv").option("regions", 2).mode("overwrite").save(d)
    d
  }

  /** The conf a task holds: loaded before the count starts. */
  private lazy val conf: Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.size()
    c
  }

  private lazy val file: String = {
    val table = new Path(dir)
    val live = KvLog.liveFiles(table.getFileSystem(conf), table)
    live should not be empty
    new Path(table, live.head).toString
  }

  private val names = Cell.schema.fieldNames.toSeq

  private class CountingLoader(parent: ClassLoader) extends ClassLoader(parent) {
    val defaultsLookups = new AtomicInteger
    override def getResource(name: String): URL = {
      if (name == "core-default.xml") defaultsLookups.incrementAndGet()
      super.getResource(name)
    }
  }

  /** Default-resource lookups while `build` opens a reader and reads its
    * first row.
    */
  private def defaultsParsedBy(build: => PartitionReader[InternalRow]): Int = {
    val thread = Thread.currentThread()
    val saved = thread.getContextClassLoader
    val loader = new CountingLoader(saved)
    thread.setContextClassLoader(loader)
    try {
      val r = build
      try r.next() shouldBe true finally r.close()
    } finally thread.setContextClassLoader(saved)
    loader.defaultsLookups.get
  }

  private def plain = new KvPartitionReader(file, names, names, None, conf)
  private def tail = new KvTailPartitionReader(file, names, names, None, conf,
    n = 3, tailPlan = true)

  test("the counting loader sees a default Configuration being parsed") {
    // keeps the assertions below meaningful
    defaultsParsedBy {
      new Configuration().size()
      plain
    } should be > 0
  }

  test("building a KvPartitionReader or KvTailPartitionReader parses no default Configuration") {
    // first opens outside the count: FileSystem instances are cached per JVM
    plain.close(); tail.close()
    defaultsParsedBy(plain) shouldBe 0
    defaultsParsedBy(tail) shouldBe 0
  }
}
