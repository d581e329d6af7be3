package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.kv.Cell
import graft.ops.KvPivot
import graft.perfbench.{KvLogView => KvLog}
import graft.sources.{KvCompactor, KvDelete, KvIndex, KvMaintenance}

/** `mixed_rw`: a preloaded graft-kv table used online. One foreground
  * client runs a seeded mix of put / delete / get / index_get / scan / tail
  * in a closed loop; one background thread refreshes the secondary index
  * and runs maintenance every [[MaintainEvery]] commits. Reads are checked
  * against an in-memory model of every key the client touched.
  */
final class MixedWorkload(ctx: Ctx) extends Workload {
  import ctx.{rec, spark}
  import MixedGen.{Quals, rowKey}

  private val rows = if (ctx.tiny) 400 else 10000
  private val gen = MixedGen(ctx.seed, rows, commits = 2)
  private val putRows = if (ctx.tiny) 20 else 500
  private val deleteKeys = if (ctx.tiny) 5 else 40
  private val scanWidth = 32
  private val MaintainEvery = 3
  private val IndexName = "ix_q0"
  private val TailName = "perfbench_tail"
  private val policy = KvMaintenance.Policy(maxSegments = 6,
    targetRegionBytes = 2L << 20, vacuumGraceMs = 20000L)
  /** One deck of foreground ops, in this fixed order: the seed picks keys
    * and values, not the order, so every run has the same composition and
    * background maintenance (every 3 commits: once per deck) overlaps the
    * same ops.
    */
  private val deck = Seq("put", "get", "get", "index_get", "delete", "get",
    "scan", "put", "get", "tail")
  /** Warm-up: the tail first (its catch-up over the preload), then one op
    * of every other kind.
    */
  private val warmDeck = Seq("tail", "put", "get", "index_get", "scan", "delete")

  private var path: String = _
  private var ckpt: String = _
  private var setups = 0

  // ---- the model: live rows, value → keys for the index, recent writes
  private val state = mutable.HashMap.empty[String, Array[String]]
  private val byValue = mutable.HashMap.empty[String, mutable.Set[String]]
  private val live = mutable.ArrayBuffer.empty[String]
  private val livePos = mutable.HashMap.empty[String, Int]
  private val recent = mutable.ArrayBuffer.empty[String]
  private var nextId = 0L
  private var clock = 1L
  private val opRng = Gen.rng(ctx.seed, 9, 0)

  // ---- background maintenance and what it reported
  private val commits = new AtomicLong(0)
  @volatile private var stopping = false
  private val passes = new java.util.concurrent.ConcurrentLinkedQueue[(KvIndex.RefreshResult, KvMaintenance.Report, Long)]
  private val putStats = mutable.ArrayBuffer.empty[(Int, Long)]
  @volatile private var tailCount = -1L

  def inputs: Map[String, Any] = Map("rows" -> rows, "cells" -> rows.toLong * Quals.size,
    "qualifiers" -> Quals.size, "put_rows" -> putRows, "delete_keys" -> deleteKeys,
    "scan_width" -> scanWidth, "maintain_every_commits" -> MaintainEvery,
    "deck" -> deck.mkString(","), "digest" -> digest)

  /** Digest of the preload, the warm-up ops and the first 30 decks of ops
    * the seed generates.
    */
  private def digest: String = {
    val d = new Gen.Digest
    (0L until rows).foreach(i => gen.preloadCells(i).foreach(c =>
      d.add(c.rowKey).add(c.qualifier).add(c.value).add(c.commit.toLong)))
    val twin = new MixedWorkload(ctx)
    twin.resetModel()
    twin.nextDeck(warmDeck).foreach(op => d.add(op.toString))
    (0 until 30).foreach(_ => twin.nextDeck().foreach(op => d.add(op.toString)))
    d.hex
  }

  def setup(): Unit = {
    if (path != null) Files2.deleteTree(new File(path).getParentFile)
    setups += 1
    val base = ctx.dir(s"mixed_$setups")
    path = s"$base/table"
    ckpt = s"$base/tail_ckpt"
    (0 until gen.commits).foreach { c =>
      val g = gen
      val rdd = spark.sparkContext.range(0L, rows.toLong, 1L, 4).flatMap(i =>
        g.preloadCells(i).filter(_.commit == c).map(x =>
          Row(x.rowKey, x.family, x.qualifier, x.value, x.ts)))
      spark.createDataFrame(rdd, Cell.schema).write.format("graft-kv")
        .option("regions", 4).mode(if (c == 0) "overwrite" else "append").save(path)
    }
    KvIndex.create(spark, path, IndexName, "c", MixedGen.IndexQual,
      pad = MixedGen.IndexPad, regions = 2)
  }

  private def resetModel(): Unit = {
    state.clear(); byValue.clear(); live.clear(); livePos.clear(); recent.clear()
    (0L until rows).foreach { i =>
      val cs = gen.preloadCells(i)
      setRow(cs.head.rowKey, cs.map(c => c.qualifier -> new String(c.value, "UTF-8")).toMap)
    }
    nextId = rows
    clock = 1L
  }

  private def setRow(k: String, vals: Map[String, String]): Unit = {
    val row = state.getOrElseUpdate(k, {
      livePos(k) = live.size; live += k
      new Array[String](Quals.size)
    })
    vals.foreach { case (q, v) =>
      val qi = Quals.indexOf(q)
      if (qi == 0) Option(row(0)).foreach(old => byValue.get(old).foreach(_ -= k))
      row(qi) = v
      if (qi == 0) byValue.getOrElseUpdate(v, mutable.Set.empty) += k
    }
    recent += k
    if (recent.size > 8192) recent.remove(0, 4096)
  }

  private def dropRow(k: String): Unit = state.remove(k).foreach { row =>
    byValue.get(row(0)).foreach(_ -= k)
    val p = livePos.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(p) = last; livePos(last) = p }
  }

  // ---- the seeded op stream: a pure function of the seed and the model

  private sealed trait Op
  private case class Put(cells: Seq[(String, String, String)], ts: Long) extends Op
  private case class Delete(keys: Seq[String], ts: Long) extends Op
  private case class Get(key: String) extends Op
  private case class IndexGet(value: String) extends Op
  private case class Scan(from: Long) extends Op
  private case object Tail extends Op

  /** A key drawn Zipf-like toward the most recently written ones. */
  private def recentKey(): String = {
    val n = recent.size
    val back = math.min(n - 1, (math.pow(n.toDouble, opRng.nextDouble()) - 1).toInt)
    recent(n - 1 - back)
  }

  private def liveKey(): String = {
    val k = recentKey()
    if (state.contains(k)) k else live(opRng.nextInt(live.size))
  }

  /** Ops are generated lazily, one at a time, because each op's keys depend
    * on the model state the ops before it left.
    */
  private def nextDeck(kinds: Seq[String] = deck): Iterator[Op] = kinds.iterator.map(nextOp)

  private def nextOp(kind: String): Op = {
    kind match {
      case "put" =>
        clock += 1
        val upd = (0 until putRows / 2).map(_ => liveKey()).distinct
        val fresh = (0 until putRows - putRows / 2).map { _ => nextId += 1; rowKey(nextId - 1) }
        val cells = upd.flatMap { k =>
          Quals.filter(_ => opRng.nextInt(2) == 0).map(q => (k, q, MixedGen.valueFor(opRng, q)))
        } ++ fresh.flatMap(k => Quals.map(q => (k, q, MixedGen.valueFor(opRng, q))))
        val op = Put(cells, clock)
        cells.groupBy(_._1).foreach { case (k, cs) => setRow(k, cs.map(c => c._2 -> c._3).toMap) }
        op
      case "delete" =>
        clock += 1
        val keys = (0 until deleteKeys).map(_ => liveKey()).distinct
        keys.foreach(dropRow)
        Delete(keys, clock)
      case "get" => Get(recentKey())
      case "index_get" => IndexGet(state(liveKey())(0))
      case "scan" => Scan(opRng.nextLong(nextId))
      case _ => Tail
    }
  }

  // ---- executing ops against the engine

  private def cellsAt: DataFrame = spark.read.format("graft-kv").load(path)

  private def pivotRows(df: DataFrame): Map[String, Seq[String]] =
    rec.span("spark.collect")(df.collect()).map { r =>
      r.getString(0) -> Quals.indices.map(i =>
        Option(r.getAs[Array[Byte]](i + 1)).map(new String(_, "UTF-8")).orNull)
    }.toMap

  private def expected(keys: Iterable[String]): Map[String, Seq[String]] =
    keys.flatMap(k => state.get(k).map(v => k -> v.toSeq)).toMap

  private def runOp(op: Op, trace: Boolean): Unit = op match {
    case Put(cells, ts) =>
      val before = if (rec.traced) Some(KvLog.latestSeq(fs, table)) else None
      val df = spark.createDataFrame(cells.map { case (k, q, v) =>
        Row(k, "c", q, v.getBytes("UTF-8"), ts) }.asJava, Cell.schema)
      val (s, _) = rec.op("put", trace = trace) {
        rec.span("KvCellSink.append")(
          df.write.format("graft-kv").option("regions", 2).mode("append").save(path))
      }
      if (s.ok) commits.incrementAndGet()
      before.foreach(b => putStats.synchronized { putStats += commitStats(b) })
    case Delete(keys, ts) =>
      val df = spark.createDataFrame(keys.map(k => Row(k, ts)).asJava,
        StructType(Seq(StructField("rowKey", StringType), StructField("ts", LongType))))
      val (s, _) = rec.op("delete", trace = trace) {
        rec.span("KvDelete.deleteRows")(KvDelete.deleteRows(spark, path, df))
      }
      if (s.ok) commits.incrementAndGet()
    case Get(key) =>
      val (s, got) = rec.op("get", trace = trace) {
        val cells = rec.span("KvCellSource.read")(cellsAt.filter(col("rowKey") === key))
        pivotRows(rec.span("KvPivot.pivot")(KvPivot.pivot(cells, Quals, None, Some("c"))))
      }
      got.foreach(g => rec.check(s, g == expected(Seq(key)), s"get $key: $g"))
    case IndexGet(v) =>
      val (s, got) = rec.op("index_get", trace = trace) {
        rec.span("KvIndex.lookup") {
          val df = KvIndex.lookup(spark, path, IndexName, v, (v.toInt + 1).toString)
          rec.span("spark.collect")(df.select("rowKey").collect()).map(_.getString(0)).toSet
        }
      }
      val want = byValue.getOrElse(v, mutable.Set.empty).toSet
      got.foreach(g => rec.check(s, g == want, s"index_get $v: $g != $want"))
    case Scan(from) =>
      val (lo, hi) = (rowKey(from), rowKey(from + scanWidth))
      val (s, got) = rec.op("scan", trace = trace) {
        val cells = rec.span("KvCellSource.read")(
          cellsAt.filter(col("rowKey") >= lo && col("rowKey") < hi))
        pivotRows(rec.span("KvPivot.pivot")(KvPivot.pivot(cells, Quals, None, Some("c"))))
      }
      got.foreach(g => rec.check(s, g == expected((from until from + scanWidth).map(rowKey)),
        s"scan [$lo, $hi)"))
    case Tail =>
      val (s, _) = rec.op("tail", trace = trace) {
        rec.span("KvTailStream.availableNow")(tail())
      }
      // Every key ever written has family-c cells in the log; the tail's
      // state holds each once (deletes are not applied to a change feed).
      if (s.ok) rec.check(s, tailCount == nextId, s"tail rows $tailCount != $nextId")
  }

  private def tail(): Unit = {
    val cells = spark.readStream.format("graft-kv").option("family", "c")
      .option("tailId", "perfbench").load(path)
    val q = KvPivot.pivot(cells, Quals).select("rowKey", MixedGen.IndexQual)
      .writeStream.queryName(TailName).outputMode("complete")
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) => tailCount = df.count() }
      .start()
    q.awaitTermination()
  }

  private def table = new Path(path)
  private def fs = table.getFileSystem(spark.sessionState.newHadoopConf())

  /** (files, bytes) the foreground commits after log seq `before` added. */
  private def commitStats(before: Long): (Int, Long) = {
    val es = ((before + 1) to KvLog.latestSeq(fs, table)).flatMap(KvLog.entry(fs, table, _))
      .filter(!_._1)
    (es.map(_._2).sum, es.map(_._3).sum)
  }

  private def maintainPass(): Unit = {
    val (_, r) = rec.op("bg_maintain") {
      val ref = rec.span("KvIndex.refresh")(KvIndex.refresh(spark, path, IndexName))
      val rep = rec.span("KvMaintenance.maintain")(KvMaintenance.maintain(spark, path, policy))
      (ref, rep)
    }
    r.foreach { case (ref, rep) =>
      val rewritten = rep.compaction match {
        case c: KvCompactor.Compacted =>
          KvLog.entry(fs, table, c.seq).map(_._3).getOrElse(0L)
        case _ => 0L
      }
      passes.add((ref, rep, rewritten))
    }
  }

  /** One op of each kind, untimed: JIT, codegen and the tail's first
    * catch-up over the whole preload happen here.
    */
  def warmup(): Unit = {
    resetModel()
    nextDeck(warmDeck).foreach(runOp(_, trace = false))
  }

  def run(deadline: Long): Unit = {
    passes.clear()
    val bg = new Thread(() => {
      var done = commits.get()
      while (!stopping) {
        if (commits.get() - done >= MaintainEvery) {
          done = commits.get()
          maintainPass()
        } else Thread.sleep(2)
      }
    }, "perfbench-maintenance")
    bg.setDaemon(true)
    bg.start()
    try {
      // Whole decks only, so every run has the same op composition.
      Workload.repeatUntil(deadline)(nextDeck().foreach(runOp(_, trace = true)))
    } finally {
      stopping = true
      bg.join()
    }
    rec.phase = "final"
    endStats = if (rec.traced) Some(logStats()) else None
    maintainPass()
  }

  private var endStats: Option[Map[String, Double]] = None

  private def logStats(): Map[String, Double] = {
    val replay = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      KvLog.liveFilesWithStats(fs, table)
      (System.nanoTime() - t0) / 1e9
    }.sorted
    val live = KvLog.liveFilesWithStats(fs, table)
    Map(
      "KvLog.entries" -> KvLog.entries(fs, table).toDouble,
      "KvLog.live_files" -> live.size.toDouble,
      "KvLog.replay_s" -> replay(2),
      "KvDelete.live_markers" -> live.map(_._3).sum.toDouble)
  }

  /** `recall`: share of reads (get, index_get, scan, tail) that matched the
    * model; `bytes_per_user_byte`: live table bytes after the final
    * maintenance pass over the user bytes of the model's live cells.
    */
  def values: Map[String, Double] = {
    val liveBytes = KvLog.liveBytes(fs, table)
    val userBytes = state.iterator.map { case (k, vs) =>
      vs.iterator.zip(Quals.iterator).map { case (v, q) =>
        if (v == null) 0L else k.length + 1 + q.length + v.getBytes("UTF-8").length + 8L
      }.sum
    }.sum
    Map(
      "recall" -> Workload.okShare(rec, Set("get", "index_get", "scan", "tail")),
      "bytes_per_user_byte" -> liveBytes.toDouble / math.max(1L, userBytes))
  }

  def layers(t: SparkTrace): Map[String, Double] = {
    val l = new Layers(rec, t)
    def ops(kinds: String*) = l.named(n => kinds.exists(k => n == s"op:$k"))
      .filter(s => rec.opList.exists(o => o.id == s.op && o.phase == "run"))
    val fg = ops("get", "put", "index_get", "scan", "delete", "tail")
    val run = passes.asScala.toSeq
    val compacted = run.flatMap(_._2.compaction match {
      case c: KvCompactor.Compacted => Some(c)
      case _ => None
    })
    val rewritten = run.map(_._3).sum.toDouble
    val sinkBytes = putStats.map(_._2).sum.toDouble
    val refreshSeqs = run.map(_._1 match {
      case KvIndex.Refreshed(from, to) => (to - from).toDouble
      case _ => 0.0
    })
    val runOps = rec.opList.filter(_.phase == "run")
    val bgOps = runOps.filter(_.kind == "bg_maintain")
    val overlap = runOps.filter(o => !o.kind.startsWith("bg_")).map { o =>
      bgOps.map(b => math.max(0L, math.min(o.t1, b.t1) - math.max(o.t0, b.t0))).sum
    }.sum / 1e9
    val batches = t.batchList.filter(_.query == TailName)
    val tails = ops("tail")
    l.engine(fg) ++ l.kvScan(ops("get", "index_get", "scan")) ++
      l.scanAndPivot(ops("scan")) ++ endStats.getOrElse(Map.empty) ++ Map(
      "KvCellSink.commit_s" -> l.meanSeconds(l.named("KvCellSink.append")),
      "KvCellSink.files_per_commit" -> l.mean(putStats.map(_._1.toDouble).toSeq),
      "KvCellSink.bytes_written" -> l.mean(putStats.map(_._2.toDouble).toSeq),
      "KvDelete.commit_s" -> l.meanSeconds(l.named("KvDelete.deleteRows")),
      "KvMaintenance.maintain_s" -> l.meanSeconds(l.named("KvMaintenance.maintain")),
      "KvMaintenance.parked" -> run.count(_._2.compaction.isInstanceOf[KvCompactor.Parked]).toDouble,
      "KvMaintenance.overlap_s" -> overlap,
      "KvCompactor.segments_merged" -> compacted.map(_.merged).sum.toDouble,
      "KvCompactor.bytes_rewritten" -> rewritten,
      "KvCompactor.write_amp" -> (if (sinkBytes == 0) 0.0 else (sinkBytes + rewritten) / sinkBytes),
      "KvIndex.lookup_s" -> l.meanSeconds(l.named("KvIndex.lookup")),
      "KvIndex.refresh_s" -> l.meanSeconds(l.named("KvIndex.refresh")),
      "KvIndex.refresh_seqs" -> l.mean(refreshSeqs),
      "KvTailStream.batches" -> batches.size.toDouble / math.max(1, tails.size),
      "KvTailStream.batch_s" -> l.mean(batches.map(_.durations.getOrElse("triggerExecution", 0L) / 1e3)),
      "KvTailStream.walcommit_s" -> l.mean(batches.map(_.durations.getOrElse("walCommit", 0L) / 1e3)),
      "streaming.state_rows" -> batches.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_commit_s" -> l.mean(batches.map(_.stateCommitMs / 1e3)))
  }
}
