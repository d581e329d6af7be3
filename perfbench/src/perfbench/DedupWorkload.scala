package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Dedup, Similarity, TextAnalysis}

/** `dedup`: the training-data operators, no graft-kv involved. Each pass
  * runs quality filter → exact dedup → MinHash-LSH pairs → clusters →
  * semantic (embedding) dedup → a write of the kept doc ids over a seeded
  * corpus with planted duplicates.
  */
final class DedupWorkload(ctx: Ctx) extends Workload {
  import ctx.{rec, spark}

  private val docs = if (ctx.tiny) 400 else 4000
  private val gen = DedupGen(ctx.seed, docs)
  private var corpus: String = _
  private var setups = 0
  private val out = ctx.dir("dedup_kept")

  // ---- the model
  private lazy val kinds = (0L until docs).map(gen.kind)
  private lazy val bad: Set[Long] = kinds.indices.filter(i => kinds(i) == DedupGen.Bad).map(_.toLong).toSet
  private lazy val exactDups: Set[Long] = kinds.indices.collect {
    case i if kinds(i).isInstanceOf[DedupGen.ExactOf] => i.toLong
  }.toSet
  private lazy val nearPairs: Seq[(Long, Long)] = kinds.indices.collect {
    case i if kinds(i).isInstanceOf[DedupGen.NearOf] =>
      (kinds(i).asInstanceOf[DedupGen.NearOf].j, i.toLong)
  }
  private lazy val vecNear: Seq[Long] = kinds.indices.collect {
    case i if kinds(i).isInstanceOf[DedupGen.VecNearOf] => i.toLong
  }

  private var firstKept: Option[(Long, Long)] = None
  private var textRecall = 0.0
  private var vectorRecall = 0.0

  def inputs: Map[String, Any] = Map("docs" -> docs, "dim" -> DedupGen.Dim,
    "vocabulary" -> DedupGen.Vocab.length, "planted_bad" -> bad.size,
    "planted_exact" -> exactDups.size, "planted_near_text" -> nearPairs.size,
    "planted_near_vector" -> vecNear.size, "digest" -> gen.digest)

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))

  def setup(): Unit = {
    if (corpus != null) Files2.deleteTree(new File(corpus))
    setups += 1
    corpus = ctx.dir(s"dedup_corpus_$setups")
    write(gen, corpus)
  }

  private def write(g: DedupGen, dir: String): Unit = {
    val rdd = spark.sparkContext.range(0L, g.docs.toLong, 1L, 8).map(i =>
      Row(i, g.text(i), g.embedding(i).toSeq))
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(dir)
  }

  private case class Stages(quality: DataFrame, exact: DataFrame, pairs: DataFrame,
      clusters: DataFrame, semantic: DataFrame, kept: DataFrame)

  /** The pipeline as one chain; the deduplicated corpus and `clusters`
    * execute eagerly, the rest runs in the final write.
    */
  private def pipeline(input: DataFrame): Stages = {
    val q = rec.span("TextAnalysis.qualityFilter")(TextAnalysis.qualityFilter(input))
    val good = input.join(q.filter(col("keep")).select("doc_id"), "doc_id")
    val ex = rec.span("Dedup.exact")(Dedup.exact(good))
    // Four consumers read the deduplicated corpus: materialize it once.
    val uniq = rec.span("spark.localCheckpoint")(
      good.join(ex.filter(!col("is_dup")).select("doc_id"), "doc_id").localCheckpoint())
    val pairs = rec.span("Dedup.minhashLshPairs")(Dedup.minhashLshPairs(uniq))
    val cl = rec.span("Dedup.clusters")(Dedup.clusters(uniq.select("doc_id"), pairs))
    val sem = rec.span("Dedup.semanticDedup")(Dedup.semanticDedup(
      uniq.select(col("doc_id").as("vec_id"), col("embedding"))))
    val kept = cl.filter(col("cluster_id") === col("doc_id")).select("doc_id")
      .join(sem.filter(!col("is_dup")).select(col("vec_id").as("doc_id")), "doc_id")
    Stages(q, ex, pairs, cl, sem, kept)
  }

  private def pass(input: String, measured: Boolean, trace: Boolean): Unit = {
    val (s, st) = rec.op("dedup", units = docs, trace = trace) {
      val st = pipeline(rec.span("read")(spark.read.parquet(input)))
      rec.span("write.kept")(st.kept.write.mode("overwrite").parquet(out))
      st
    }
    if (measured) {
      st.foreach(x => check(s, x))
      if (s.traced) decompose()
    }
  }

  private def check(s: OpSample, st: Stages): Unit = {
    val dropped = st.quality.filter(!col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    rec.check(s, dropped == bad, s"quality dropped ${dropped.size} docs, planted ${bad.size}")
    val dups = st.exact.filter(col("is_dup")).select("doc_id").collect().map(_.getLong(0)).toSet
    rec.check(s, dups == exactDups,
      s"exact dups: ${(dups -- exactDups).size} extra, ${(exactDups -- dups).size} missing")
    val kept = spark.read.parquet(out).collect().map(_.getLong(0)).toSet
    val keptSum = (kept.size.toLong, kept.sum)
    // Every pass must write the same kept set: the pipeline is deterministic.
    firstKept match {
      case None => firstKept = Some(keptSum)
      case Some(k) => rec.check(s, k == keptSum, s"kept set changed: $keptSum != $k")
    }
    val cluster = st.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    textRecall = nearPairs.count { case (a, b) => cluster.get(a) == cluster.get(b) }.toDouble /
      math.max(1, nearPairs.size)
    vectorRecall = vecNear.count(i => !kept.contains(i)).toDouble / math.max(1, vecNear.size)
  }

  /** Traced passes also run each operator alone on materialized input, so
    * each layer's time and counts are its own (root spans, not timed).
    */
  private def decompose(): Unit = {
    val input = spark.read.parquet(corpus).localCheckpoint()
    rec.root("noop:TextAnalysis.qualityFilter")(noop(TextAnalysis.qualityFilter(input)))
    val q = TextAnalysis.qualityFilter(input)
    val good = input.join(q.filter(col("keep")).select("doc_id"), "doc_id").localCheckpoint()
    rec.root("noop:Dedup.exact")(noop(Dedup.exact(good)))
    val uniq = good.join(Dedup.exact(good).filter(!col("is_dup")).select("doc_id"), "doc_id")
      .localCheckpoint()
    verifiedPairs = rec.root("noop:Dedup.minhashLshPairs")(Dedup.minhashLshPairs(uniq).count())
    // Candidates: doc pairs sharing a band key (with cross-band repeats),
    // the rows the LSH join compares before verification.
    val sig = Dedup.minhashSignatures(uniq).localCheckpoint()
    candidatePairs = (0 until Dedup.NumHashes / Dedup.BandRows).map { b =>
      sig.groupBy((0 until Dedup.BandRows).map(r => col(s"s${b * Dedup.BandRows + r}")): _*)
        .count().collect().map(r => r.getLong(r.length - 1)).map(n => n * (n - 1) / 2).sum
    }.sum
    val pairs = Dedup.minhashLshPairs(uniq).localCheckpoint()
    rec.root("noop:Dedup.clusters")(noop(Dedup.clusters(uniq.select("doc_id"), pairs)))
    val vecs = uniq.select(col("doc_id").as("vec_id"), col("embedding"))
    rec.root("noop:Dedup.semanticDedup")(Dedup.semanticDedup(vecs).count())
    // Vectors are compared pairwise within their coarse cell.
    comparisons = Similarity.assignCells(Similarity.index(vecs)).groupBy("cell").count()
      .collect().map(r => r.getLong(1) * (r.getLong(1) - 1) / 2).sum
    keptRatio = good.count().toDouble / docs
  }

  private var verifiedPairs = 0L
  private var comparisons = 0L
  private var candidatePairs = 0L
  private var keptRatio = 0.0

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One untimed pass over a small corpus of the same shape: the JVM and
    * Spark's code generation warm up without a full-size pass.
    */
  def warmup(): Unit = {
    val small = ctx.dir("dedup_warmup")
    write(DedupGen(ctx.seed + 1, 300), small)
    pass(small, measured = false, trace = false)
    Files2.deleteTree(new File(small))
  }

  def run(deadline: Long): Unit = {
    Workload.repeatUntil(deadline)(pass(corpus, measured = true, trace = true))
  }

  /** `recall`: planted near-duplicates (text and vector) recovered. */
  def values: Map[String, Double] = {
    val n = nearPairs.size + vecNear.size
    Map(
      "recall" -> (textRecall * nearPairs.size + vectorRecall * vecNear.size) / math.max(1, n),
      "bytes_per_user_byte" -> Files2.dataBytes(out).toDouble /
        math.max(1L, 8L * firstKept.map(_._1).getOrElse(0L)))
  }

  def layers(t: SparkTrace): Map[String, Double] = {
    val l = new Layers(rec, t)
    def alone(name: String) = l.meanSeconds(l.named(s"noop:$name"))
    l.engine(l.named("op:dedup")) ++ Map(
      "TextAnalysis.quality_s" -> alone("TextAnalysis.qualityFilter"),
      "TextAnalysis.kept_ratio" -> keptRatio,
      "Dedup.exact_s" -> alone("Dedup.exact"),
      "Dedup.minhash_s" -> alone("Dedup.minhashLshPairs"),
      "Dedup.clusters_s" -> alone("Dedup.clusters"),
      "Dedup.candidate_pairs" -> candidatePairs.toDouble,
      "Dedup.verified_pairs" -> verifiedPairs.toDouble,
      "Dedup.pair_yield" ->
        (if (candidatePairs == 0) 0.0 else verifiedPairs.toDouble / candidatePairs),
      "Dedup.text_recall" -> textRecall,
      "Similarity.semantic_s" -> alone("Dedup.semanticDedup"),
      "Similarity.comparisons" -> comparisons.toDouble,
      "Similarity.vector_recall" -> vectorRecall)
  }
}
