package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, encode}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.types.UTF8String

import graft.kv.Cell

/** The sink's write-path decision table: one row per way a graft-kv
  * commit is produced — plain append, truncating overwrite, pre-salted
  * append, sink-salted catalog INSERT, streaming epochs (plain and
  * sink-salted, each with a replayed epoch) and UPDATE/MERGE rewrites on
  * a plain and a salted table, with and without live delete markers.
  *
  * Each row checks what the commit published: the read-back against a
  * model of the table, the sealed-name shape of every added file, each
  * added file's manifest [[KvLog.FileStat]] against the file's own rows
  * (row count, bytes, rowKey and put-ts bounds, tombstones, families,
  * qualifiers), its parquet column order (`Cell.schema`), and the Spark
  * jobs the write ran. Job counts are upper bounds: a change to the
  * sink may drop a job, never add one.
  */
class KvWritePathTableSpec extends graft.SparkSpec {

  import spark.implicits._

  private val root = s"${sys.props("java.io.tmpdir")}/graft_test/kv_write_table"
  private val cat = "graftcat_wpt"
  private lazy val wh: String = {
    val d = s"$root/wh"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftKvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", d)
    d
  }

  private def fresh(name: String): String = {
    val d = s"$root/$name"
    graft.sinks.Sinks.deleteRecursive(spark, d)
    d
  }

  private def fsOf(d: String): FileSystem =
    new Path(d).getFileSystem(spark.sessionState.newHadoopConf())

  /** (rowKey, family, qualifier, value, ts); ts unique per cell, values
    * numeric so an index can be declared over them.
    */
  private type C = (String, String, String, String, Long)

  private def fixture(keys: Range, tsBase: Long): Seq[C] =
    for {
      k <- keys
      ((f, q), j) <- Seq(("f", "a"), ("f", "b"), ("g", "c")).zipWithIndex
    } yield {
      val ts = tsBase + k * 3L + j
      (f"k$k%03d", f, q, (ts * 7 % 1000).toString, ts)
    }

  private def dfOf(cells: Seq[C]): DataFrame =
    cells.toDF("rowKey", "family", "qualifier", "v", "ts")
      .select(col("rowKey"), col("family"), col("qualifier"),
        encode(col("v"), "UTF-8").as("value"), col("ts"))

  private def modelOf(cells: Seq[C]): Seq[String] =
    cells.map { case (k, f, q, v, ts) => s"$k|$f|$q|$v|$ts" }.sorted

  private def readBack(df: DataFrame): Seq[String] =
    df.selectExpr("rowKey", "family", "qualifier", "CAST(value AS STRING)", "ts")
      .collect().map(_.mkString("|")).toSeq.sorted

  // ---- Spark jobs per write (the KvIndexJobsSpec listener pattern) ----

  private val Tag = "graft.test.writeRow"
  private val started = new ConcurrentHashMap[String, AtomicInteger]()

  private lazy val listener: SparkListener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach(t =>
          started.computeIfAbsent(t, _ => new AtomicInteger()).incrementAndGet())
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  private def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tag, tag)
    try body finally sc.setLocalProperty(Tag, null)
  }

  /** Upper bounds per row: the jobs each write ran when this table was
    * written. Streaming rows count the whole query run (source planning
    * included), so they bound every epoch's commit together.
    */
  private val pinned = Map(
    "plain append" -> 3,
    "truncating overwrite" -> 3,
    "pre-salted append" -> 3,
    "catalog INSERT, sink-salted" -> 3,
    "stream, plain" -> 9,
    "stream, plain, replayed epoch" -> 3,
    "stream, sink-salted" -> 9,
    "stream, sink-salted, replayed epoch" -> 3,
    "UPDATE, plain" -> 4,
    "MERGE, plain" -> 7,
    "UPDATE, plain, live markers" -> 3,
    "MERGE, plain, live markers" -> 8,
    "UPDATE, salted" -> 4,
    "MERGE, salted" -> 7,
    "UPDATE, salted, live markers" -> 3,
    "MERGE, salted, live markers" -> 8)

  /** Runs `write` tagged as `row` and checks its job count against the
    * pin. Listener delivery is asynchronous, so a flush job tagged apart
    * runs after the write: once the listener has seen it, it has seen
    * every job the write started.
    */
  private def row(name: String)(write: => Unit): Unit = {
    listener
    require(pinned.contains(name), s"no pinned job count for row '$name'")
    tagged(name)(write)
    val flush = s"$name/flush"
    tagged(flush)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!started.containsKey(flush) && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(started.containsKey(flush), s"listener never saw $flush")
    val got = Option(started.get(name)).fold(0)(_.get)
    info(s"$name: $got jobs")
    withClue(s"$name jobs") {
      got should be > 0
      got should be <= pinned(name)
    }
  }

  // ---- what a commit published ----

  private val BatchName = "part-b(\\d{10})-(\\d{5}|m)-([0-9a-f]{8})\\.parquet".r
  private val EpochName = "part-e(\\d{10})-([A-Za-z0-9]{4,16})-(\\d{5})\\.parquet".r

  private def isMarker(q: String): Boolean = q.nonEmpty && q.charAt(0) == '\u0000'

  /** One added file's manifest stat against the file's own rows, and
    * its parquet column order.
    */
  private def checkFile(fs: FileSystem, dir: Path, name: String,
      st: KvLog.FileStat): Unit = withClue(s"$name: ") {
    val p = new Path(dir, name)
    val df = spark.read.parquet(p.toString)
    df.schema.fieldNames.toSeq shouldBe Cell.schema.fieldNames.toSeq
    val rows = df.select("rowKey", "family", "qualifier", "ts").collect()
    st.rows shouldBe rows.length.toLong
    st.bytes shouldBe fs.getFileStatus(p).getLen
    val keys = rows.map(r => UTF8String.fromString(r.getString(0)))
    st.minKey shouldBe Some(keys.min.toString)
    st.maxKey shouldBe Some(keys.max.toString)
    val (markers, puts) = rows.partition(r => isMarker(r.getString(2)))
    st.tombstones shouldBe markers.length.toLong
    val putTs = puts.map(_.getLong(3))
    st.minTs shouldBe putTs.minOption
    st.maxTs shouldBe putTs.maxOption
    st.families.map(_.toSet) shouldBe Some(rows.map(_.getString(1)).toSet)
    st.qualifiers.map(_.toSet) shouldBe Some(rows.map(_.getString(2)).toSet)
  }

  /** The entry at `seq`: every add matches `pattern` and carries a stat
    * that agrees with its file. Returns the adds.
    */
  private def checkEntry(d: String, seq: Long,
      pattern: scala.util.matching.Regex): Seq[String] = {
    val fs = fsOf(d)
    val dir = new Path(d)
    val e = KvLog.read(fs, dir, seq).getOrElse(fail(s"no entry $seq at $d"))
    e.adds should not be empty
    e.adds.foreach { n =>
      n should fullyMatch regex pattern
      checkFile(fs, dir, n, e.stats.getOrElse(n, fail(s"$n has no stat")))
    }
    e.adds
  }

  /** Batch entries seal one seq label and one writer token across adds. */
  private def checkBatchEntry(d: String): Seq[String] = {
    val seq = KvLog.latestSeq(fsOf(d), new Path(d))
    val adds = checkEntry(d, seq, BatchName)
    adds.map { case BatchName(s, _, tok) => (s, tok) }.distinct should have size 1
    adds
  }

  test("plain append") {
    val d = fresh("plain")
    val (a, b) = (fixture(0 until 20, 100), fixture(20 until 40, 1000))
    dfOf(a).write.format("graft-kv").option("regions", 2).mode("overwrite").save(d)
    row("plain append") {
      dfOf(b).write.format("graft-kv").option("regions", 2).mode("append").save(d)
    }
    readBack(spark.read.format("graft-kv").load(d)) shouldBe modelOf(a ++ b)
    checkBatchEntry(d).size shouldBe 2
  }

  test("truncating overwrite keeps the snapshot, the recorded properties and the index") {
    val d = fresh("overwrite")
    val fs = fsOf(d)
    val dir = new Path(d)
    val (a, b) = (fixture(0 until 20, 100), fixture(10 until 30, 5000))
    dfOf(a).write.format("graft-kv").option("regions", 2).mode("overwrite").save(d)
    val props = Map("regions" -> "2", "codec" -> "snappy")
    KvTableProps.write(fs, dir, props)
    KvSnapshot.create(spark, d, "s1")
    KvIndex.create(spark, d, "by_a", "f", "a", pad = 8)
    row("truncating overwrite") {
      dfOf(b).write.format("graft-kv").option("regions", 2).mode("overwrite").save(d)
    }
    readBack(spark.read.format("graft-kv").load(d)) shouldBe modelOf(b)
    readBack(spark.read.format("graft-kv").option("snapshot", "s1").load(d)) shouldBe
      modelOf(a)
    KvTableProps.read(fs, dir) shouldBe props
    KvIndex.list(fs, dir).map(_.name) shouldBe Seq("by_a")
    checkBatchEntry(d).size shouldBe 2
  }

  test("pre-salted append (saltedInput)") {
    val d = fresh("presalted")
    val (a, b) = (fixture(0 until 20, 100), fixture(20 until 40, 1000))
    KvSalt.saltedWrite(dfOf(a), d, 4, regions = 2)
    row("pre-salted append") {
      KvSalt.saltedWrite(dfOf(b), d, 4, regions = 2)
    }
    readBack(spark.read.format("graft-kv").load(d)) shouldBe modelOf(a ++ b)
    checkBatchEntry(d).size shouldBe 2
  }

  test("catalog INSERT into a salt_buckets table (sink-salted)") {
    wh: Unit
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ins")
    spark.sql(
      s"""CREATE TABLE $cat.ins.t (
         |  rowKey STRING, family STRING, qualifier STRING,
         |  value BINARY, ts BIGINT)
         |USING `graft-kv`
         |TBLPROPERTIES ('regions' = '2', 'salt_buckets' = '4')""".stripMargin)
    val a = fixture(0 until 40, 100)
    dfOf(a).createOrReplaceTempView("wpt_ins")
    row("catalog INSERT, sink-salted") {
      spark.sql(s"INSERT INTO $cat.ins.t SELECT * FROM wpt_ins")
    }
    readBack(spark.table(s"$cat.ins.t")) shouldBe modelOf(a)
    // one file per (range partition, touched bucket)
    checkBatchEntry(s"$wh/ins/t").size should be > 2
  }

  /** A graft-kv source of three one-file commits: a tail with
    * `maxFilesPerBatch=1` runs one epoch per commit.
    */
  private def streamSource(name: String): (String, Seq[C]) = {
    val src = fresh(name)
    val parts = Seq(fixture(0 until 10, 100), fixture(10 until 20, 1000),
      fixture(20 until 30, 2000))
    parts.foreach(p => dfOf(p).write.format("graft-kv").option("regions", 1)
      .mode("append").save(src))
    (src, parts.flatten)
  }

  /** Drops the checkpoint's record of the last committed epoch, so the
    * next start replays it.
    */
  private def forgetLastCommit(cp: String): Long = {
    val commits = new java.io.File(s"$cp/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    commits.listFiles().filter(f => f.getName == s"$last" || f.getName == s".$last.crc")
      .foreach(_.delete())
    last
  }

  /** The stream row: every epoch's entry checked, then the last epoch
    * replayed and shown to publish nothing.
    */
  private def streamRow(name: String, table: String,
      start: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery,
      read: () => DataFrame): Unit = {
    val (src, cells) = streamSource(s"${name}_src")
    val cp = fresh(s"${name}_cp")
    def run(): Unit = {
      val q = start(spark.readStream.format("graft-kv")
        .option("maxFilesPerBatch", 1).load(src), cp)
      q.awaitTermination()
    }
    val label = if (name == "stream_salted") "stream, sink-salted" else "stream, plain"
    row(label)(run())
    readBack(read()) shouldBe modelOf(cells)
    val fs = fsOf(table)
    val dir = new Path(table)
    val latest = KvLog.latestSeq(fs, dir)
    latest shouldBe 2L
    val epochs = (0L to latest).map { s =>
      val adds = checkEntry(table, s, EpochName)
      adds.map { case EpochName(e, tok, _) => (e, tok) }.distinct should have size 1
      KvLog.read(fs, dir, s).get.writer.map(_.split(':').last) shouldBe
        Some(adds.head.substring(6, 16).toLong.toString)
      adds
    }
    val live = KvLog.liveFiles(fs, dir).sorted
    live shouldBe epochs.flatten.sorted
    val replayed = forgetLastCommit(cp)
    replayed shouldBe 2L
    row(s"$label, replayed epoch")(run())
    KvLog.latestSeq(fs, dir) shouldBe latest
    KvLog.liveFiles(fs, dir).sorted shouldBe live
    readBack(read()) shouldBe modelOf(cells)
    new java.io.File(s"$cp/commits/$replayed").exists() shouldBe true
  }

  test("streaming epochs, plain, with a replayed epoch") {
    val d = fresh("stream_plain_dst")
    streamRow("stream_plain", d,
      (df, cp) => df.writeStream.format("graft-kv").option("regions", 2)
        .option("checkpointLocation", cp).trigger(Trigger.AvailableNow()).start(d),
      () => spark.read.format("graft-kv").load(d))
  }

  test("streaming epochs into a salt_buckets table (sink-salted), with a replayed epoch") {
    wh: Unit
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sst")
    spark.sql(
      s"""CREATE TABLE $cat.sst.t (
         |  rowKey STRING, family STRING, qualifier STRING,
         |  value BINARY, ts BIGINT)
         |USING `graft-kv`
         |TBLPROPERTIES ('regions' = '2', 'salt_buckets' = '4')""".stripMargin)
    streamRow("stream_salted", s"$wh/sst/t",
      (df, cp) => df.writeStream.option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).toTable(s"$cat.sst.t"),
      () => spark.table(s"$cat.sst.t"))
  }

  /** UPDATE then MERGE, then a key DELETE (live markers) and UPDATE and
    * MERGE again, each checked against the model. The marker-carrying
    * UPDATE has no condition, so it retires every group, the marker file
    * included, and re-emits its markers as the `-m-` sidecar.
    */
  private def rewriteRows(kind: String, salted: Boolean): Unit = {
    wh: Unit
    val ns = s"rw_$kind"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.$ns")
    spark.sql(
      s"""CREATE TABLE $cat.$ns.t (
         |  rowKey STRING, family STRING, qualifier STRING,
         |  value BINARY, ts BIGINT)
         |USING `graft-kv`
         |TBLPROPERTIES ('regions' = '2'${if (salted) ", 'salt_buckets' = '4'" else ""})""".stripMargin)
    val t = s"$cat.$ns.t"
    val d = s"$wh/$ns/t"
    var model = fixture(0 until 20, 100)
    dfOf(model).createOrReplaceTempView(s"wpt_${ns}_base")
    spark.sql(s"INSERT INTO $t SELECT * FROM wpt_${ns}_base")
    def check(): Seq[String] = {
      readBack(spark.table(t)) shouldBe modelOf(model)
      checkBatchEntry(d)
    }
    def update(label: String, v: String, everyRow: Boolean): Seq[String] = {
      row(label) {
        spark.sql(s"UPDATE $t SET value = CAST('$v' AS BINARY)" +
          (if (everyRow) "" else " WHERE ts % 2 = 0"))
      }
      model = model.map { case c @ (k, f, q, _, ts) =>
        if (everyRow || ts % 2 == 0) (k, f, q, v, ts) else c
      }
      check()
    }
    def merge(label: String, tsBase: Long): Seq[String] = {
      val src = Seq(("k001", "f", "a", "901", tsBase), ("k002", "g", "c", "902", tsBase + 1),
        (f"k${tsBase / 100}%03d", "f", "a", "903", tsBase + 2))
      dfOf(src).createOrReplaceTempView(s"wpt_${ns}_src")
      row(label) {
        spark.sql(
          s"""MERGE INTO $t t USING wpt_${ns}_src s
             |ON t.rowKey = s.rowKey AND t.family = s.family AND t.qualifier = s.qualifier
             |WHEN MATCHED THEN UPDATE SET value = s.value, ts = s.ts
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      val bySrc = src.map(c => (c._1, c._2, c._3) -> c).toMap
      model = model.map(c => bySrc.getOrElse((c._1, c._2, c._3), c)) ++
        src.filterNot(c => model.exists(m => (m._1, m._2, m._3) == (c._1, c._2, c._3)))
      check()
    }
    val what = if (salted) "salted" else "plain"
    update(s"UPDATE, $what", "700", everyRow = false).exists(_.contains("-m-")) shouldBe false
    merge(s"MERGE, $what", 7000).exists(_.contains("-m-")) shouldBe false
    spark.sql(s"DELETE FROM $t WHERE rowKey = 'k003'")
    model = model.filterNot(_._1 == "k003")
    readBack(spark.table(t)) shouldBe modelOf(model)
    val upd = update(s"UPDATE, $what, live markers", "800", everyRow = true)
    upd.count(_.contains("-m-")) shouldBe 1
    merge(s"MERGE, $what, live markers", 8000)
  }

  test("UPDATE and MERGE on a plain table, with and without live delete markers") {
    rewriteRows("plain", salted = false)
  }

  test("UPDATE and MERGE on a salted table, with and without live delete markers") {
    rewriteRows("salted", salted = true)
  }
}
