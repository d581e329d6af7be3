package perfbench

import java.io.File
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the recorder, the seed and a
  * private work directory.
  */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
    val work: File, val tiny: Boolean) {
  def dir(name: String): String = new File(work, name).getAbsolutePath
}

/** Per-layer metric arithmetic over [[Recorder]] spans and [[SparkTrace]]
  * stage data, shared by the workloads.
  */
final class Layers(rec: Recorder, t: SparkTrace) {
  private val spans = rec.spanList
  private val byId = spans.map(s => s.id -> s).toMap
  private val stagesBySpan = t.stagesBySpan
  private val qeBySpan = t.qeBySpan

  def named(p: String => Boolean): Seq[Span] = spans.filter(s => p(s.name))
  def named(name: String): Seq[Span] = named(_ == name)

  /** The span and every span nested in it. */
  def subtree(roots: Seq[Span]): Set[Int] = {
    val ids = roots.map(_.id).toSet
    spans.filter { s =>
      var cur: Option[Span] = Some(s)
      var hit = false
      while (!hit && cur.isDefined) {
        hit = ids.contains(cur.get.id)
        cur = byId.get(cur.get.parent)
      }
      hit
    }.map(_.id).toSet
  }

  def stages(roots: Seq[Span]): Seq[StageAgg] =
    subtree(roots).toSeq.flatMap(id => stagesBySpan.getOrElse(id, Nil))

  def qes(roots: Seq[Span]): Seq[QeInfo] =
    subtree(roots).toSeq.flatMap(id => qeBySpan.getOrElse(id, Nil))

  def jobs(roots: Seq[Span]): Int =
    subtree(roots).toSeq.map(id => t.jobsBySpan.getOrElse(id, 0)).sum

  def meanSeconds(ss: Seq[Span]): Double = mean(ss.map(_.seconds))

  /** Spark engine totals per traced foreground op. */
  def engine(opRoots: Seq[Span]): Map[String, Double] = {
    val st = stages(opRoots)
    val n = math.max(1, opRoots.size).toDouble
    Map(
      "spark.jobs" -> jobs(opRoots) / n,
      "spark.tasks" -> st.map(_.tasks).sum / n,
      "spark.run_s" -> st.map(_.runMs).sum / 1e3 / n,
      "spark.cpu_s" -> st.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3 / n,
      "spark.shuffle_bytes" -> st.map(_.shuffleWriteBytes).sum / n)
  }

  /** KvCellSource planning and region pruning, per graft-kv scan. */
  def kvScan(roots: Seq[Span]): Map[String, Double] = {
    val q = qes(roots).filter(_.kvScans > 0)
    val scans = q.map(_.kvScans).sum.max(1).toDouble
    val cand = q.map(_.candidateRegions).sum
    val planned = q.map(_.plannedRegions).sum
    Map(
      "KvCellSource.plan_s" -> mean(q.map(_.planMs / 1e3)),
      "KvCellSource.regions_candidate" -> cand / scans,
      "KvCellSource.regions_planned" -> planned / scans,
      "KvCellSource.prune_ratio" -> (if (cand == 0) 0.0 else 1.0 - planned.toDouble / cand))
  }

  /** Scan-side and pivot-side stage metrics, per op span. */
  def scanAndPivot(roots: Seq[Span]): Map[String, Double] = {
    val n = math.max(1, roots.size).toDouble
    val st = stages(roots)
    val scan = st.filter(_.inputRecords > 0)
    val reduce = st.filter(_.shuffleReadBytes > 0)
    Map(
      "KvCellSource.scan_task_s" -> scan.map(_.runMs).sum / 1e3 / n,
      "KvCellSource.input_bytes" -> scan.map(_.inputBytes).sum / n,
      "KvCellSource.input_records" -> scan.map(_.inputRecords).sum / n,
      "KvPivot.shuffle_write_bytes" -> scan.map(_.shuffleWriteBytes).sum / n,
      "KvPivot.shuffle_read_bytes" -> reduce.map(_.shuffleReadBytes).sum / n,
      "KvPivot.reduce_task_s" -> reduce.map(_.runMs).sum / 1e3 / n,
      "KvPivot.spill_bytes" -> st.map(_.spillBytes).sum / n,
      "KvPivot.task_skew" -> mean(reduce.map(_.skew)))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Files2 {
  /** Bytes of the data files under a directory (no checksums or markers). */
  def dataBytes(dir: String): Long = {
    val root = new File(dir).toPath
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && isData(p))
        .map(p => Files.size(p)).sum
      finally s.close()
    }
  }

  private def isData(p: JPath): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
