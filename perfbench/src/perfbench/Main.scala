package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** One benchmark workload: set up (repeatably), warm up, run a closed loop
  * until the deadline, then report values and, when traced, layer metrics.
  */
trait Workload {
  def inputs: Map[String, Any]
  def setup(): Unit
  def warmup(): Unit
  def run(deadline: Long): Unit
  def values: Map[String, Double]
  def layers(t: SparkTrace): Map[String, Double]
}

object Workload {
  val Names = Seq("export", "mixed_rw", "dedup")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "export" => new ExportWorkload(ctx)
    case "mixed_rw" => new MixedWorkload(ctx)
    case "dedup" => new DedupWorkload(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** Repeat `unit` (a rotation, deck or pass) until the deadline, stopping
    * at whichever unit boundary lies nearest to it.
    */
  def repeatUntil(deadline: Long)(unit: => Unit): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    do { unit; n += 1 }
    while (System.nanoTime() + (System.nanoTime() - t0) / n / 2 < deadline)
  }

  /** Share of measured ops of the given kinds that succeeded and matched. */
  def okShare(rec: Recorder, kind: String => Boolean): Double = {
    val ops = rec.opList.filter(o => o.phase == "run" && kind(o.kind))
    if (ops.isEmpty) 0.0 else ops.count(_.ok).toDouble / ops.size
  }
}

/** The benchmark JVM. Writes one raw JSON file (`--out`) with the run
  * record, op samples, spans and metric inputs; `perfbench/run.py` turns it
  * into the reported metrics.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --work DIR --out FILE [--master local[N]] [--tiny] [--digest]
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    // `--name value` pairs; a `--name` followed by another flag is a switch.
    val opts = argv.indices.filter(argv(_).startsWith("--")).map { i =>
      argv(i).drop(2) ->
        (if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) argv(i + 1) else "1")
    }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val tiny = opts.contains("tiny")
    val work = new File(opts("work"))
    work.mkdirs()

    if (opts.contains("digest")) {
      // Inputs only: the engine is never started.
      val ctx = new Ctx(null, null, seed, work, tiny)
      println(Workload(name, ctx).inputs("digest"))
      return
    }

    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val master = opts.getOrElse("master", s"local[${Runtime.getRuntime.availableProcessors}]")
    val spark = session(master, work)
    try {
      val rec = new Recorder(spark, traced)
      val trace = if (traced) Some(new SparkTrace(spark)) else None
      val ctx = new Ctx(spark, rec, seed, work, tiny)
      val w = Workload(name, ctx)
      val bootS = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      // Set-up repeated so its median is steady; each one builds fresh inputs.
      val setupTimes = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        w.setup()
        (System.nanoTime() - t0) / 1e9
      }
      val heapAfter = mutable.ArrayBuffer(HeapWatch.oldGenAfterFullGc())
      val tWarm = System.nanoTime()
      w.warmup()
      heapAfter += HeapWatch.oldGenAfterFullGc()
      val tRun = System.nanoTime()
      trace.foreach(_.start())
      rec.phase = "run"
      w.run(System.nanoTime() + seconds * 1000000000L)
      if (rec.phase == "run") rec.phase = "final"
      val tEnd = System.nanoTime()
      heapAfter += HeapWatch.oldGenAfterFullGc()
      val heapPeakMb = heapAfter.max / 1048576.0
      val values = w.values
      // Listener events are delivered asynchronously: let the bus drain.
      trace.foreach { _ => Thread.sleep(500) }
      val layers = trace.map(w.layers).getOrElse(Map.empty)
      trace.foreach(_.stop())
      val tInputs = System.nanoTime()
      val inputs = w.inputs
      val inputsS = (System.nanoTime() - tInputs) / 1e9
      val record = Map(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
        "tiny" -> tiny, "nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> master, "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
        "inputs" -> inputs,
        "phase_s" -> Map("boot" -> bootS, "inputs" -> inputsS, "setup" -> setupTimes.sum, "warmup" -> (tRun - tWarm) / 1e9,
          "run" -> (tEnd - tRun) / 1e9, "report" -> (System.nanoTime() - tEnd) / 1e9))
      val raw = Map("record" -> record, "setup_s" -> setupTimes,
        "heap_peak_mb" -> heapPeakMb, "values" -> values, "layers" -> layers) ++
        rec.toJson ++ trace.map(_.toJson).getOrElse(Map.empty)
      val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(raw)
      val pw = new PrintWriter(new File(opts("out")), "UTF-8")
      try pw.write(json) finally pw.close()
    } finally spark.stop()
  }

  /** The engine's bench session settings, at the given master. */
  def session(master: String, work: File): SparkSession = {
    val cores = master.stripPrefix("local[").stripSuffix("]")
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
