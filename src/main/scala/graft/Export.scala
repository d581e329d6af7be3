package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{KvPivot, TypedProject}
import graft.schema.SchemaFile
import graft.sinks.{AvroIO, Sinks}

/** The reference's four export jobs as one declarative pipeline (§3.1):
  *
  *   cell scan → family filter (S2) → A1/A2 pivot → schema projection
  *   (P1–P4, typed for record formats) → sink (K1–K4).
  *
  * One CLI-shaped config (the reference's positional args,
  * ExportHBaseTableToDelimiteredTxt.java:44-54) drives all four formats; the
  * whole job is a single DataFrame chain, so Catalyst prunes columns, pushes
  * the family predicate to the scan, and plans the pivot as a hash aggregate
  * with map-side partial combine — the reference's map-only + scan-order trick
  * restated as one bounded shuffle.
  */
object Export {

  sealed trait Format
  case object DelimitedTxt extends Format // K1 (ExportHBaseTableToDelimiteredTxt)
  case object DelimitedSeq extends Format // K2 (ExportHBaseTableToDelimiteredSeq)
  case object Avro extends Format         // K3 (ExportHBaseTableToAvro)
  case object Parquet extends Format      // K4 (ExportHBaseTableToParquet)
  case object Orc extends Format          // ext: columnar sink beyond the reference's four
  case object JsonLines extends Format    // ext: line-record sink (typed JSON)

  /** The reference's CLI surface (positional args → one config).
    * @param schemaText  content of the schema file: CSV dialect for delimited
    *                    formats, Avro-JSON for record formats (SURVEY §1.2)
    * @param rowKeyColumn P4: schema column to fill with the row key
    * @param compression  None | gzip | snappy/deflate (format-dependent)
    */
  case class Config(
      format: Format,
      schemaText: String,
      outputPath: String,
      columnFamily: Option[String] = None,
      delimiter: String = "|",
      rowKeyColumn: Option[String] = None,
      compression: Option[String] = None)

  /** Build the export DataFrame (everything up to the sink) — exposed so the
    * plan can be inspected/tested/oracle-checked independently of the write.
    */
  def plan(cells: DataFrame, cfg: Config): DataFrame = cfg.format match {
    case DelimitedTxt | DelimitedSeq =>
      val schema = SchemaFile.parseCsv(cfg.schemaText)
      val cols = schema.fieldNames.toSeq
      val piv = KvPivot.pivot(cells, cols, cfg.rowKeyColumn, cfg.columnFamily)
      KvPivot.projectLines(piv, cols, cfg.delimiter)
    case Avro | Parquet | Orc | JsonLines =>
      val schema = SchemaFile.parseAvroJson(cfg.schemaText)
      val piv = KvPivot.pivot(cells, schema.fieldNames.toSeq,
        cfg.rowKeyColumn, cfg.columnFamily)
      TypedProject.project(piv, schema)
  }

  /** Run the full export: plan + sink. */
  def run(cells: DataFrame, cfg: Config): Unit = write(plan(cells, cfg), cfg)

  /** Sink an already-built export plan. Public so a caller can build the
    * plan with [[plan]] and run the sink as its own step.
    */
  def write(df: DataFrame, cfg: Config): Unit = {
    cfg.format match {
      case DelimitedTxt => Sinks.delimitedText(df, cfg.outputPath, cfg.compression.contains("gzip"))
      case DelimitedSeq => Sinks.sequenceFile(df, cfg.outputPath, cfg.compression)
      case Avro         => AvroIO.write(df, cfg.outputPath, cfg.compression)
      case Parquet      =>
        val w = df.write.mode("overwrite")
        cfg.compression.fold(w)(c => w.option("compression", c)).parquet(cfg.outputPath)
      case Orc          =>
        val w = df.write.mode("overwrite")
        cfg.compression.fold(w)(c => w.option("compression", c)).orc(cfg.outputPath)
      case JsonLines    =>
        val w = df.write.mode("overwrite")
        cfg.compression.fold(w)(c => w.option("compression", c)).json(cfg.outputPath)
    }
  }

  /** S5/K6 inspection readers (AvroReader/ParquetReader): read back + dump. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSON carries no int-vs-long / null-vs-absent distinction on its own:
    * read back under the SAME schema the export projected (the Avro-JSON
    * schema file), so the round-trip is type-exact, not inference-lucky.
    */
  def readJsonLines(spark: SparkSession, path: String, schemaText: String): DataFrame =
    spark.read.schema(SchemaFile.parseAvroJson(schemaText)).json(path)
}
