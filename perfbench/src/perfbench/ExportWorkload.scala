package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.Export
import graft.kv.Cell
import graft.schema.SchemaFile
import graft.sinks.{AvroIO, Sinks}

/** `export`: the reference's own job. A seeded graft-kv table, loaded as
  * several commits over 8 regions, is exported again and again, rotating
  * Parquet (snappy), Avro (snappy), DelimitedTxt (gzip) and DelimitedSeq.
  * The first export of each format in a run is read back and compared with
  * the generator's last-write-wins model; later ones must write the same
  * number of bytes.
  */
final class ExportWorkload(ctx: Ctx) extends Workload {
  import ctx.{rec, spark}

  private val rows = if (ctx.tiny) 300 else 12000
  private val gen = ExportGen(ctx.seed, rows, commits = 3)
  private val regions = 8

  private case class Fmt(name: String, format: Export.Format, codec: Option[String],
      typed: Boolean)
  private val formats = Seq(
    Fmt("parquet", Export.Parquet, Some("snappy"), typed = true),
    Fmt("avro", Export.Avro, Some("snappy"), typed = true),
    Fmt("txt", Export.DelimitedTxt, Some("gzip"), typed = false),
    Fmt("seq", Export.DelimitedSeq, None, typed = false))

  /** Model: rows, (count, hash sum, bytes) of typed and delimited lines. */
  private lazy val model = {
    val lines = (0L until rows).map(gen.modelLines)
    def summary(ls: Seq[String]) = (ls.size.toLong, ls.map(Gen.fnv64).sum,
      ls.map(_.getBytes("UTF-8").length.toLong).sum)
    (summary(lines.map(_._1)), summary(lines.map(_._2)))
  }
  private lazy val cells: Long = (0L until rows).map(i => gen.rowCells(i).size.toLong).sum

  private var table: String = _
  private var warmTable: String = _
  private var setups = 0
  private var outputBytes = 0L
  private var userBytes = 0L
  /** Output bytes of the fully checked export, per format. */
  private val checkedBytes = scala.collection.mutable.Map.empty[String, Long]

  def inputs: Map[String, Any] = Map("rows" -> rows, "cells" -> cells,
    "qualifiers" -> ExportGen.Quals.size, "commits" -> gen.commits,
    "regions" -> regions, "digest" -> gen.digest)

  def setup(): Unit = {
    if (table != null) Files2.deleteTree(new File(table))
    setups += 1
    table = ctx.dir(s"export_table_$setups")
    load(gen, table)
  }

  private def load(g: ExportGen, dir: String): Unit =
    (0 until g.commits).foreach { c =>
      val rdd = spark.sparkContext.range(0L, g.rows.toLong, 1L, 8).flatMap(i =>
        g.rowCells(i).filter(_.commit == c).map(x =>
          Row(x.rowKey, x.family, x.qualifier, x.value, x.ts)))
      spark.createDataFrame(rdd, Cell.schema).write.format("graft-kv")
        .option("regions", regions).mode(if (c == 0) "overwrite" else "append").save(dir)
    }

  private def config(f: Fmt, out: String) = Export.Config(
    format = f.format,
    schemaText = if (f.typed) ExportGen.AvroSchema else ExportGen.CsvSchema,
    outputPath = out, columnFamily = Some("c"), rowKeyColumn = Some("id"),
    compression = f.codec)

  private def runOne(i: Int, measured: Boolean): Unit = {
    val f = formats(i % formats.size)
    val out = ctx.dir(s"export_out_$i")
    val cfg = config(f, out)
    val source = if (measured) table else warmTable
    val (s, _) = rec.op(s"export_${f.name}", units = cells,
        trace = measured) {
      val src = rec.span("KvCellSource.read")(spark.read.format("graft-kv").load(source))
      val plan = rec.span("Export.plan")(Export.plan(src, cfg))
      rec.span("Export.write")(Export.write(plan, cfg))
    }
    val bytes = Files2.dataBytes(out)
    if (s.ok && measured) checkedBytes.get(f.name) match {
      // Later exports of the same table and format must write the same bytes.
      case Some(b) => rec.check(s, bytes == b, s"${f.name} wrote $bytes bytes, first export $b")
      case None =>
        check(s, f, out)
        if (s.ok) checkedBytes(f.name) = bytes
    }
    if (measured) {
      outputBytes += bytes
      userBytes += (if (f.typed) model._1._3 else model._2._3)
      // Traced ops also run the plan alone into the no-op sink, so the sink's
      // share of the fused write can be told apart (root span, not timed).
      if (s.traced) rec.root(s"noop:${f.name}") {
        Export.plan(spark.read.format("graft-kv").load(table), cfg)
          .write.format("noop").mode("overwrite").save()
      }
    }
    Files2.deleteTree(new File(out))
  }

  private def check(s: OpSample, f: Fmt, out: String): Unit = {
    val back: DataFrame = f.format match {
      case Export.Parquet => lineOf(spark.read.parquet(out))
      case Export.Avro => lineOf(AvroIO.read(spark, out,
        SchemaFile.parseAvroJson(ExportGen.AvroSchema)))
      case Export.DelimitedTxt => spark.read.text(out).select(col("value").as("line"))
      case _ => Sinks.readSequenceFile(spark, out)
    }
    val lines = back.collect().map(_.getString(0))
    val got = (lines.length.toLong, lines.map(Gen.fnv64).sum)
    val want = if (f.typed) model._1 else model._2
    rec.check(s, got == (want._1, want._2),
      s"${f.name} read-back (rows, hash) $got != model ${(want._1, want._2)}")
  }

  private def lineOf(df: DataFrame): DataFrame =
    df.select(concat_ws("|", ("id" +: ExportGen.Quals).map(c =>
      coalesce(col(c).cast(StringType), lit(""))): _*).as("line"))

  /** One untimed export per format from a small table of the same shape:
    * each sink's code paths load and compile without a full-size pass.
    */
  def warmup(): Unit = {
    warmTable = ctx.dir("export_warm")
    load(ExportGen(ctx.seed + 1, 300, commits = 1), warmTable)
    formats.indices.foreach(runOne(_, measured = false))
    Files2.deleteTree(new File(warmTable))
  }

  def run(deadline: Long): Unit = {
    var i = 0
    Workload.repeatUntil(deadline)(formats.foreach { _ => runOne(i, measured = true); i += 1 })
  }

  /** `recall`: share of exports whose read-back matched the model. */
  def values: Map[String, Double] = Map(
    "recall" -> Workload.okShare(rec, _.startsWith("export_")),
    "bytes_per_user_byte" -> (if (userBytes == 0) 0.0 else outputBytes.toDouble / userBytes))

  def layers(t: SparkTrace): Map[String, Double] = {
    val l = new Layers(rec, t)
    val ops = l.named(_.startsWith("op:export_"))
    val writes = l.named("Export.write")
    val opKind = rec.opList.map(o => o.id -> o.kind.stripPrefix("export_")).toMap
    val sinkTimes = formats.map { f =>
      val fused = l.meanSeconds(writes.filter(w => opKind.get(w.op).contains(f.name)))
      val alone = l.meanSeconds(l.named(s"noop:${f.name}"))
      s"sinks.${f.name}.write_s" -> math.max(0.0, fused - alone)
    }
    val measured = rec.opList.count(o => o.phase == "run" && o.kind.startsWith("export_"))
    val outBytes = if (measured == 0) 0.0 else outputBytes.toDouble / measured
    l.engine(ops) ++ l.kvScan(ops) ++ l.scanAndPivot(writes) ++ sinkTimes ++ Map(
      "sinks.output_bytes" -> outBytes,
      "sinks.output_bytes_per_cell" -> (if (cells == 0) 0.0 else outBytes / cells))
  }
}
