package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JVM/codegen/FS-listing costs land here, not on the
    // first query of the run.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Optional comma-separated subset for fast iteration on hot queries
    // (SPARK_GRAFT_BENCH_ONLY=q1,q2); the driver's full runs leave it unset.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Untimed artifact build: persisted indexes/tables (IVF index, bucketed
    // cells) are constructed once here so the timed loop measures query
    // latency, not index construction. Skipped for a subset run — every
    // query fn lazily self-ensures what it reads, so a subset pays only its
    // own artifacts (in the first rep; the median still reflects warm reps).
    if (only.isEmpty) Queries.prepare(spark, sfDir)
    // Each query runs `reps` times; the reported number is the MEDIAN, so
    // round-over-round deltas outrun single-run container noise. A failed
    // query records -1, never a fake timing — a broken query must not read
    // as a speed-up against the baseline.
    val selected = only match {
      case Some(names) =>
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"unknown bench queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    // CANARY normalization (r13 — ends the per-round noise adjudication):
    // a FIXED CPU+shuffle micro-query is timed at the start, after every
    // 15th query, and at the end. Container contention drifts every
    // timing roughly uniformly (the r11/r12 signature), so the canary
    // samples measure THIS RUN's drift in-band and a reader normalizes:
    //   normalized_sec = raw_sec * (CANARY_BASELINE_SEC / canary.median)
    // CANARY_BASELINE_SEC is the quiet-window canary recorded in
    // BASELINE.md next to the per-query baselines it scales.
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 8000000L, 1L, cpus)
        .selectExpr("id % 997 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
        .agg(org.apache.spark.sql.functions.sum("s")).collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    // IO CANARY (r17 — makes IO-window flaps adjudicable in-band): the CPU
    // canary is blind to shared-disk contention, which is exactly what
    // moved kv_json_extract 0.41↔5.45 s across same-code r16 runs. Each
    // sample WRITES ~64 MB of incompressible parquet to a FRESH temp path,
    // reads it back, and deletes it — the write goes to never-cached pages
    // and the commit/rename metadata ops hit the same FS journal the
    // export_*/maintenance queries flap on, so a loaded IO window shows up
    // here even when the CPU canary reads quiet. Readers normalize IO-heavy
    // movers by canary_io (protocol in BASELINE.md) the same way CPU-bound
    // queries normalize by the CPU canary.
    val ioDir = java.nio.file.Files.createTempDirectory("graft_bench_io")
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmTree))
      f.delete(): Unit
    }
    var ioTick = 0
    def canaryIo(): Double = {
      ioTick += 1
      val path = s"$ioDir/t$ioTick"
      val t0 = System.nanoTime()
      // xxhash64 values are incompressible: 4M rows × 2 high-entropy int64
      // columns ≈ 64 MB on disk regardless of parquet encoding/compression.
      spark.range(0L, 4000000L, 1L, cpus)
        .selectExpr("xxhash64(id) AS a", "xxhash64(id, 1) AS b")
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path).selectExpr("bit_xor(a)").collect(): Unit
      val sec = (System.nanoTime() - t0) / 1e9
      rmTree(new java.io.File(path))
      sec
    }
    // STREAM CANARY (r19 — verdict #1: five rounds burned adjudication
    // passes on micro-batch replay flaps the CPU/IO canaries can't see).
    // A fixed 3-batch AvailableNow file-stream replay through a stateful
    // agg with a FRESH checkpoint dir prices exactly the floor the
    // stream_* queries are uniquely exposed to: per-batch planning,
    // offset/commit WAL writes, and one state-store commit per shuffle
    // partition per batch. Data is tiny (6k rows) on purpose — the probe
    // measures the fixed per-batch state/checkpoint overhead, not
    // throughput. Readers normalize stream_* movers by canary_stream the
    // same way CPU/IO movers normalize by canary/canary_io.
    var streamTick = 0
    def canaryStream(): Double = {
      streamTick += 1
      val base = s"$ioDir/stream$streamTick"
      new java.io.File(s"$base/in").mkdirs(): Unit
      (0 until 3).foreach { i =>
        val sb = new StringBuilder
        var j = 0
        while (j < 2000) {
          sb.append("{\"k\":").append(j % 97)
            .append(",\"v\":").append(i * 2000 + j).append("}\n")
          j += 1
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$base/in/b$i.json"),
          sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
      val t0 = System.nanoTime()
      val q = spark.readStream
        .schema("k INT, v BIGINT")
        .option("maxFilesPerTrigger", "1")
        .json(s"$base/in")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("v").as("s"))
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("update")
        .format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      rmTree(new java.io.File(base))
      sec
    }
    canary(): Unit // untimed warm pass (codegen + exchange setup)
    canaryIo(): Unit
    canaryStream(): Unit
    val canarySamples = scala.collection.mutable.ArrayBuffer(canary())
    val canaryIoSamples = scala.collection.mutable.ArrayBuffer(canaryIo())
    val canaryStreamSamples = scala.collection.mutable.ArrayBuffer(canaryStream())
    def medianOf(xs: Seq[Double]): Double = {
      // true median: average the two middles for even counts
      // (upper-middle alone would bias a 2-sample set toward the max)
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def onePass(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
      }
    }
    // REPS ARE SPREAD ACROSS THE SUITE (r20, verdict #1): rep 1 of every
    // query, then rep 2, … — adjacent samples of ONE query no longer
    // share a noise window, so a 30-s container flap poisons at most one
    // sample per query instead of a whole median (both r19 closing runs
    // carried 30-45 s of exactly that). Canary cadence rides a GLOBAL
    // execution counter, so drift stays priced in-band at the same rate.
    val ordered = selected.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.LinkedHashMap(
      ordered.map { case (n, _) => n -> scala.collection.mutable.ArrayBuffer.empty[Double] }: _*)
    val failed = scala.collection.mutable.Set.empty[String]
    // Canary cadence: one CPU+IO+stream trio per ~15 QUERIES-worth of
    // executions (15 × reps), preserving the old per-run sample budget —
    // each trio costs ~4 s (64 MB parquet write + a 3-batch stream
    // replay), so sampling per 15 raw executions would triple the
    // canary overhead for no adjudication value.
    val canaryEvery = 15 * reps
    var execs = 0
    def tick(): Unit = {
      execs += 1
      if (execs % canaryEvery == 0) {
        canarySamples += canary(); canaryIoSamples += canaryIo()
        canaryStreamSamples += canaryStream()
      }
    }
    // `reps` sweeps; a query that fails is not run again.
    (1 to reps).foreach { _ =>
      ordered.foreach { case (name, fn) =>
        if (!failed(name)) {
          val t = onePass(name, fn)
          if (t < 0) failed += name else samples(name) += t
          tick()
        }
      }
    }
    // A failed pass marks the query with -1, never a fake timing.
    val results = samples.map { case (name, xs) =>
      name -> (if (failed(name) || xs.isEmpty) -1.0 else medianOf(xs.toSeq))
    }.toMap
    // Per-query MIN (r20): the flap-resistant statistic — a noise window
    // inflates medians whose samples all sat in it, but the min of
    // spread reps survives any flap shorter than the whole run. Readers
    // adjudicate regressions from min, gate totals from median.
    val resultsMin = samples.map { case (name, xs) =>
      name -> (if (failed(name) || xs.isEmpty) -1.0 else xs.min)
    }.toMap
    canarySamples += canary()
    canaryIoSamples += canaryIo()
    canaryStreamSamples += canaryStream()
    rmTree(ioDir.toFile)
    val canaryMed = medianOf(canarySamples.toSeq)
    val canaryIoMed = medianOf(canaryIoSamples.toSeq)
    val canaryStreamMed = medianOf(canaryStreamSamples.toSeq)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsMin = resultsMin.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // Locale-pinned: the f"" interpolator uses the JVM default locale, and
    // a comma-decimal locale (de_DE) would corrupt the JSON line.
    def samplesJson(med: Double, xs: Seq[Double]): String = xs
      .map(v => String.format(java.util.Locale.ROOT, "%.4f", Double.box(v)))
      .mkString(s"""{"median":$med,"samples":[""", ",", "]}")
    val canaryJson = samplesJson(canaryMed, canarySamples.toSeq)
    val canaryIoJson = samplesJson(canaryIoMed, canaryIoSamples.toSeq)
    val canaryStreamJson = samplesJson(canaryStreamMed, canaryStreamSamples.toSeq)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_min":$qsMin,"canary":$canaryJson,"canary_io":$canaryIoJson,"canary_stream":$canaryStreamJson,"sf":"$sfDir","cpus":$cpus,"reps":$reps,"stat":"median","reps_spread":true}"""
    println(line)
    // Also persist the full per-query record: the driver captures only a
    // bounded stdout tail, which truncated r6's 103-query line. The file is
    // the durable copy (BENCH_FULL.json at the repo root, or $SPARK_GRAFT_BENCH_OUT).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
