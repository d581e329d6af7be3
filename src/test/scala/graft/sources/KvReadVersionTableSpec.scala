package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, encode, lit, min}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The read-version decision table: one row per way a graft-kv batch
  * read names the table version it answers for — a current read,
  * `asOfSeq`, `asOfTime`, a named `snapshot`, `sinceSeq` pinned and
  * auto-pinned, a `sinceSeq` span crossing a salt declaration, a
  * log-less directory, a pushed COUNT(*)/MIN(ts) — and the refusals: a
  * version past the log end, a truncated version, a below-floor span
  * without an anchoring snapshot (with one, the span is served).
  *
  * Each row checks the files the scan plans (their names, and the salt
  * width each one is stripped under), the answer against a model of the
  * table or the exact error text, and the opens under `_log/` that
  * planning and running the read make ([[CountingFileSystem.logReads]]).
  * The log-read counts are upper bounds: a change to version resolution
  * may drop a manifest read, never add one.
  */
class KvReadVersionTableSpec extends graft.SparkSpec {

  import spark.implicits._

  private val root = s"${sys.props("java.io.tmpdir")}/graft_test/kv_read_version"

  /** A fresh table directory, addressed through the metering `cfs:`
    * scheme (registered in the session conf, which the scan captures).
    */
  private def fresh(name: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.cfs.impl",
      classOf[CountingFileSystem].getName)
    graft.sinks.Sinks.deleteRecursive(spark, s"$root/$name")
    s"cfs:$root/$name"
  }

  private def fsOf(d: String): FileSystem =
    new Path(d).getFileSystem(spark.sessionState.newHadoopConf())

  /** (rowKey, family, qualifier, value, ts); ts unique per cell. */
  private type C = (String, String, String, String, Long)

  /** Commit `i`'s cells: 12 keys × 2 qualifiers. */
  private def batch(i: Int): Seq[C] =
    for {
      k <- 0 until 12
      (q, j) <- Seq("a", "b").zipWithIndex
    } yield (f"k${(k * 7 + i * 5) % 40}%03d", "f", q, s"v$i-$k-$q",
      1000L * (i + 1) + k * 2 + j)

  private def dfOf(cells: Seq[C]): DataFrame =
    cells.toDF("rowKey", "family", "qualifier", "v", "ts")
      .select(col("rowKey"), col("family"), col("qualifier"),
        encode(col("v"), "UTF-8").as("value"), col("ts"))

  private def modelOf(cells: Seq[C]): Seq[String] =
    cells.map { case (k, f, q, v, ts) => s"$k|$f|$q|$v|$ts" }.sorted

  private def readBack(df: DataFrame): Seq[String] =
    df.selectExpr("rowKey", "family", "qualifier", "CAST(value AS STRING)", "ts")
      .collect().map(_.mkString("|")).toSeq.sorted

  private def append(d: String, cells: Seq[C]): Unit =
    dfOf(cells).write.format("graft-kv").option("regions", 2)
      .mode("append").save(d)

  /** `commits` plain appends of [[batch]] 0, 1, … — entry seq = batch. */
  private def pile(name: String, commits: Int): String = {
    val d = fresh(name)
    (0 until commits).foreach(i => append(d, batch(i)))
    d
  }

  /** The files the log's entries `seqs` added, at width `w`. */
  private def added(d: String, w: Int, seqs: Long*): Seq[(String, Int)] =
    seqs.flatMap(s => KvLog.read(fsOf(d), new Path(d), s).get.adds).map((_, w))

  private def read(d: String, opts: Map[String, String]): DataFrame =
    opts.foldLeft(spark.read.format("graft-kv")) { case (r, (k, v)) =>
      r.option(k, v) }.load(d)

  /** The scan's planned partitions: (file name, salt width it strips). */
  private def planned(d: String, opts: Map[String, String]): Seq[(String, Int)] = {
    val batch = new KvCellTable(d)
      .newScanBuilder(new CaseInsensitiveStringMap(opts.asJava)).build().toBatch
    val width = batch.createReaderFactory() match {
      case f: KvReaderFactory => f.saltLen
      case _ => 0
    }
    batch.planInputPartitions().toSeq.collect { case p: KvFilePartition =>
      (new Path(p.file).getName, p.saltLenOverride.getOrElse(width))
    }.sorted
  }

  /** `f`'s result and the `_log/` opens it made. */
  private def metered[T](f: => T): (T, Long) = {
    CountingFileSystem.reset()
    val out = f
    (out, CountingFileSystem.logReads.get)
  }

  private def row(name: String, d: String, opts: Map[String, String],
      files: Seq[(String, Int)], model: Seq[C], maxLogReads: Long): Unit = {
    planned(d, opts) shouldBe files.sorted
    val (got, reads) = metered(readBack(read(d, opts)))
    got shouldBe modelOf(model)
    info(s"$name: ${files.size} files, $reads log reads (bound $maxLogReads)")
    reads should be <= maxLogReads
  }

  private def refusal(name: String, d: String, opts: Map[String, String],
      message: String, maxLogReads: Long): Unit = {
    val (err, reads) = metered(intercept[Exception](read(d, opts).collect()))
    Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).find(m => m != null && m.contains("graft-kv")) shouldBe
      Some(message)
    info(s"$name: $reads log reads (bound $maxLogReads)")
    reads should be <= maxLogReads
  }

  private def table(d: String): String = new Path(d).toString

  test("current read: the latest version's files") {
    val d = pile("current", 3)
    row("current", d, Map.empty, added(d, 0, 0, 1, 2),
      batch(0) ++ batch(1) ++ batch(2), maxLogReads = 4)
  }

  test("asOfSeq: the named version's files") {
    val d = pile("as_of_seq", 3)
    row("asOfSeq", d, Map("asOfSeq" -> "1"), added(d, 0, 0, 1),
      batch(0) ++ batch(1), maxLogReads = 5)
  }

  test("asOfTime: the version published at or before the instant") {
    val d = pile("as_of_time", 3)
    Seq(0L -> 1000L, 1L -> 2000L, 2L -> 3000L).foreach { case (s, t) =>
      KvLog.backdateEntry(fsOf(d), new Path(d), s, t) }
    row("asOfTime", d, Map("asOfTime" -> "2500"), added(d, 0, 0, 1),
      batch(0) ++ batch(1), maxLogReads = 6)
  }

  test("snapshot: the snapshot's files, not the commits after it") {
    val d = pile("snapshot", 2)
    KvSnapshot.create(spark, d, "pin")
    append(d, batch(2))
    row("snapshot", d, Map("snapshot" -> "pin"), added(d, 0, 0, 1),
      batch(0) ++ batch(1), maxLogReads = 0)
  }

  test("sinceSeq with asOfSeq: the span's commits") {
    val d = pile("since_pinned", 3)
    row("sinceSeq pinned", d, Map("sinceSeq" -> "0", "asOfSeq" -> "1"),
      added(d, 0, 1), batch(1), maxLogReads = 2)
  }

  test("sinceSeq alone: the span up to the plan-time latest") {
    val d = pile("since_auto", 3)
    row("sinceSeq auto-pinned", d, Map("sinceSeq" -> "0"),
      added(d, 0, 1, 2), batch(1) ++ batch(2), maxLogReads = 4)
  }

  test("sinceSeq across a salt declaration: each file at its own entry's width") {
    val d = fresh("since_mixed")
    KvSalt.saltedWrite(dfOf(batch(0)), d, n = 16, regions = 2, mode = "overwrite")
    KvSnapshot.create(spark, d, "anchor") // anchors the span below the resalt's floor
    KvSalt.saltedWrite(dfOf(batch(1)), d, n = 16, regions = 2)
    KvResalt.resalt(spark, d, None) shouldBe a[KvResalt.Resalted]
    append(d, batch(2))
    row("sinceSeq mixed salt", d, Map("sinceSeq" -> "0"),
      added(d, KvSalt.Width, 1) ++ added(d, 0, 3), batch(1) ++ batch(2),
      maxLogReads = 19)
  }

  test("log-less directory: the listed part files") {
    val d = fresh("logless")
    dfOf(batch(0)).coalesce(2).write.mode("overwrite").parquet(d)
    val listed = fsOf(d).listStatus(new Path(d)).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq
    row("log-less", d, Map.empty, listed.map((_, 0)), batch(0), maxLogReads = 0)
  }

  test("pushed COUNT(*) and MIN(ts): answered from the version's manifest stats") {
    val d = pile("pushed_agg", 3)
    planned(d, Map.empty) shouldBe added(d, 0, 0, 1, 2).sorted
    val model = batch(0) ++ batch(1) ++ batch(2)
    val (got, reads) = metered {
      val agg = read(d, Map.empty).agg(count(lit(1)), min(col("ts")))
      agg.queryExecution.executedPlan.toString should include("metadata-only")
      agg.collect()(0)
    }
    (got.getLong(0), got.getLong(1)) shouldBe ((model.size.toLong, model.map(_._5).min))
    info(s"pushed COUNT/MIN: $reads log reads (bound 8)")
    reads should be <= 8L
  }

  test("refused: asOfSeq past the log end") {
    val d = pile("past_end", 3)
    refusal("asOfSeq past end", d, Map("asOfSeq" -> "99"),
      s"requirement failed: graft-kv log: asOfSeq 99 is outside ${table(d)}'s " +
        "log (latest 2)", maxLogReads = 1)
  }

  test("refused: a version whose entries log retention truncated") {
    val d = pile("truncated", 3)
    KvCompactor.compact(spark, d, regions = 2) shouldBe a[KvCompactor.Compacted]
    (0L until 3L).foreach(KvLog.backdateEntry(fsOf(d), new Path(d), _, 1000L))
    KvLog.truncate(fsOf(d), new Path(d), retentionMs = 0) shouldBe 3
    refusal("truncated version", d, Map("asOfSeq" -> "1"),
      s"graft-kv log: version 1 of ${table(d)} is no longer reconstructible — " +
        "entries below seq 3 were truncated by log retention and no retained " +
        "checkpoint covers this version (pre-floor versions survive " +
        "truncation only as long as their entries or a covering checkpoint " +
        "do; re-baseline from the checkpoint or a full scan)", maxLogReads = 5)
  }

  test("refused: a span below the compaction floor with no anchoring snapshot") {
    val d = pile("below_floor", 3)
    KvCompactor.compact(spark, d, regions = 2) shouldBe a[KvCompactor.Compacted]
    refusal("below floor, no anchor", d, Map("sinceSeq" -> "0"),
      s"graft-kv log: changes since seq 0 of ${table(d)} are no longer " +
        "reconstructible — entries below the compaction floor 3 were merged " +
        "away. Re-baseline from a full scan (or an asOfSeq read). To keep a " +
        "change anchor durable across maintenance, pin it with a named " +
        "snapshot at the anchor seq (snapshots stop log truncation and file " +
        "GC above their seq).", maxLogReads = 3)
  }

  test("served: a span below the compaction floor that a snapshot anchors") {
    val d = pile("below_floor_anchored", 1)
    KvSnapshot.create(spark, d, "anchor")
    append(d, batch(1))
    append(d, batch(2))
    KvCompactor.compact(spark, d, regions = 2) shouldBe a[KvCompactor.Compacted]
    row("below floor, anchored", d, Map("sinceSeq" -> "0", "asOfSeq" -> "2"),
      added(d, 0, 1, 2), batch(1) ++ batch(2), maxLogReads = 4)
  }
}
