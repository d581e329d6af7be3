package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private[graft] def sessionBuilder: SparkSession.Builder =
    GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: run only the named queries (local iteration aid;
    // the driver always passes exactly two args → full run).
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      // A misspelled name would silently shrink the run and read as success.
      System.err.println(s"[verify] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = sessionBuilder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // FIXTURE PREFLIGHT (round-9 lesson: the harness regenerates
    // /root/testdata and can silently change physical encodings — r8→9
    // switched events.ts from raw int64 nanos to timestamp[us] and a
    // forced-long read shipped 11 wrong queries). Assert the decoded
    // invariant AT THE GATE'S OWN SCALE DIR before dumping anything: a
    // misdecoded unit fails the whole run loudly instead of producing 118
    // plausible-but-wrong parquet dumps. FixtureSpec pins the same bounds
    // (plus batch/stream parity) at test scale.
    locally {
      import org.apache.spark.sql.functions._
      val r = graft.kv.KvTable.events(spark, sfDir)
        .agg(count(lit(1)), min("tsNanos"), max("tsNanos")).collect()(0)
      val (n, mn, mx) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val lo = 1703980800000000000L // 2023-12-31T00:00:00Z, epoch nanos
      val hi = 1735689600000000000L // 2025-01-01T00:00:00Z
      if (n == 0 || mn < lo || mx > hi || mx - mn < 24L * 3600 * 1000000000L) {
        System.err.println(s"[verify] FIXTURE DRIFT: events tsNanos " +
          s"[$mn, $mx] (n=$n) outside the 2024 nanos span [$lo, $hi] — " +
          "ts unit misdecoded after a fixture regeneration?")
        sys.exit(3)
      }
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
