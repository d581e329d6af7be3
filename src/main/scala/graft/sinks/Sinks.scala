package graft.sinks

import org.apache.hadoop.io.{NullWritable, Text}
import org.apache.hadoop.io.compress.{DefaultCodec, GzipCodec}
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.output.SequenceFileOutputFormat
import org.apache.spark.sql.DataFrame

/** K1/K2/K6: the reference's non-columnar sinks, Spark-first.
  *
  * The reference hand-manages one file per map task (`part-m-NNNNN`,
  * ExportHBaseTableToDelimiteredTxt.java:111-118); Spark's task-parallel
  * writers produce the same one-file-per-partition layout, so the only real
  * work is compression/codec wiring.
  */
object Sinks {

  /** K1: delimited text with optional whole-file gzip (Txt:112-117). Input
    * must be a single `line` string column (see KvPivot.projectLines — F5).
    */
  def delimitedText(lines: DataFrame, path: String, gzip: Boolean): Unit = {
    val w = lines.write.mode("overwrite")
    (if (gzip) w.option("compression", "gzip") else w).text(path)
  }

  /** K2: SequenceFile<Text, NullWritable> — line as key, null value
    * (ExportHBaseTableToDelimiteredSeq.java:85-98, 186-188). No DataFrame
    * writer exists for sequence files; the RDD Hadoop API is the idiomatic
    * route. Like [[AvroIO.write]] it reads `queryExecution.toRdd`: each
    * `Text` takes the line's UTF-8 bytes inside the final pipelined map,
    * never shuffled (Writables are not serializable).
    *
    * @param codec "gzip" | "snappy" | "default" | None — the reference's
    *              codec menu (ExportHBaseTableToDelimiteredSeq.java:88-94).
    *              Snappy works without native libhadoop: Hadoop ≥ 3.3.1's
    *              SnappyCodec runs on the bundled snappy-java.
    */
  def sequenceFile(lines: DataFrame, path: String, codec: Option[String]): Unit = {
    val job = Job.getInstance(lines.sparkSession.sparkContext.hadoopConfiguration)
    job.setOutputKeyClass(classOf[Text])
    job.setOutputValueClass(classOf[NullWritable])
    codec.foreach { c =>
      org.apache.hadoop.mapreduce.lib.output.FileOutputFormat.setCompressOutput(job, true)
      org.apache.hadoop.mapreduce.lib.output.FileOutputFormat.setOutputCompressorClass(job, c match {
        case "gzip"   => classOf[GzipCodec]
        case "snappy" => classOf[org.apache.hadoop.io.compress.SnappyCodec]
        case _        => classOf[DefaultCodec]
      })
    }
    lines.queryExecution.toRdd
      .map(r => (new Text(r.getUTF8String(0).getBytes), NullWritable.get()))
      .saveAsNewAPIHadoopFile(path, classOf[Text], classOf[NullWritable],
        classOf[SequenceFileOutputFormat[Text, NullWritable]], job.getConfiguration)
  }

  /** Read-back for K2 (test support): keys of a SequenceFile as a `line` df. */
  def readSequenceFile(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext
      .sequenceFile(path, classOf[Text], classOf[NullWritable])
      .map(_._1.toString)
      .toDF("line")
  }

  /** Recursive delete for sinks whose Hadoop OutputFormats refuse to
    * overwrite (sequence file, avro) — test/round-trip support.
    */
  def deleteRecursive(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** K6: console dump — schema then first n records (AvroReader.java:45-51,
    * ParquetReader.java:36-40). The only executor→driver collection in the
    * engine, bounded by `n` (O2).
    */
  def console(df: DataFrame, n: Int): Unit = {
    df.printSchema()
    df.show(n, truncate = false)
  }
}
