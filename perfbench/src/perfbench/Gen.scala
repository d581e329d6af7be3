package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators, one per workload. Every generated item is a
  * pure function of (seed, index), so Spark tasks can generate the data in
  * parallel while the benchmark replays the same function to build the model
  * the outputs are checked against.
  */
object Gen {
  def rng(seed: Long, salt: Long, i: Long): SplittableRandom = {
    // splitmix64 finalizer over the three inputs: decorrelates neighbours.
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 ".toCharArray

  def text(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) { cs(i) = Alphabet(r.nextInt(Alphabet.length)); i += 1 }
    new String(cs)
  }

  def longBytes(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8).putLong(v).array()
  def intBytes(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()

  /** 64-bit FNV-1a: the order-independent row hash both sides of every
    * check use (outputs are compared as (count, sum of row hashes)).
    */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bs = s.getBytes(UTF_8)
    var i = 0
    while (i < bs.length) { h = (h ^ (bs(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }

  /** A running SHA-256 over generated inputs: the seed-determinism check. */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Digest = { md.update(s.getBytes(UTF_8)); md.update(0.toByte); this }
    def add(b: Array[Byte]): Digest = { if (b != null) md.update(b); md.update(1.toByte); this }
    def add(v: Long): Digest = add(longBytes(v))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** One generated cell; `commit` is the load commit it is written in. */
final case class GenCell(rowKey: String, family: String, qualifier: String,
    value: Array[Byte], ts: Long, commit: Int)

/** `export`: a typed cell table in family `c` with a second family `d` the
  * export filters out, ~10 % multi-version cells, 16–256 B string values.
  */
final case class ExportGen(seed: Long, rows: Int, commits: Int = 4) {
  import ExportGen._

  def rowKey(i: Long): String = f"r$i%08d"

  def rowCells(i: Long): Seq[GenCell] = {
    val r = Gen.rng(seed, 1, i)
    val key = rowKey(i)
    val out = Seq.newBuilder[GenCell]
    Quals.zipWithIndex.foreach { case (q, qi) =>
      // q2 always present, so every row has at least one exported cell.
      if (qi == 2 || r.nextInt(10) != 0) {
        val versions = if (r.nextInt(10) == 0) 2 + r.nextInt(2) else 1
        (0 until versions).foreach { v =>
          val value = qi match {
            case 0 => Gen.longBytes(r.nextLong())
            case 1 => Gen.intBytes(r.nextInt())
            case _ => Gen.text(r, 16, 256).getBytes(UTF_8)
          }
          out += GenCell(key, "c", q, value, 1000000L * (v + 1) + r.nextInt(1000000),
            r.nextInt(commits))
        }
        // The filtered-out family carries newer timestamps: a family filter
        // that leaked would change the last-write-wins winner.
        if (r.nextInt(5) == 0)
          out += GenCell(key, "d", q, Gen.text(r, 16, 64).getBytes(UTF_8),
            9000000L + r.nextInt(1000000), r.nextInt(commits))
      }
    }
    out.result()
  }

  /** Expected export lines: (typed line, delimited line) per row. */
  def modelLines(i: Long): (String, String) = {
    val lww = rowCells(i).filter(_.family == "c").groupBy(_.qualifier)
      .map { case (q, cs) => q -> cs.maxBy(_.ts).value }
    def str(q: String) = lww.get(q).map(new String(_, UTF_8)).getOrElse("")
    val key = rowKey(i)
    val typed = (Seq(key,
      lww.get("q0").map(b => java.nio.ByteBuffer.wrap(b).getLong.toString).getOrElse(""),
      lww.get("q1").map(b => java.nio.ByteBuffer.wrap(b).getInt.toString).getOrElse("")) ++
      StringQuals.map(str)).mkString("|")
    val delimited = (key +: StringQuals.map(str)).mkString("|")
    (typed, delimited)
  }

  def digest: String = {
    val d = new Gen.Digest
    (0L until rows).foreach(i => rowCells(i).foreach { c =>
      d.add(c.rowKey).add(c.family).add(c.qualifier).add(c.value).add(c.ts).add(c.commit.toLong)
    })
    d.hex
  }
}

object ExportGen {
  val Quals: Seq[String] = (0 until 10).map(i => s"q$i")
  val StringQuals: Seq[String] = Quals.drop(2)
  /** Typed Avro-JSON schema for the record formats; `id` is the row key. */
  val AvroSchema: String =
    """{"type":"record","name":"Row","fields":[""" +
      """{"name":"id","type":"string"},""" +
      """{"name":"q0","type":["long","null"]},""" +
      """{"name":"q1","type":["int","null"]},""" +
      StringQuals.map(q => s"""{"name":"$q","type":["string","null"]}""").mkString(",") +
      "]}"
  /** CSV schema for the delimited formats: the string qualifiers only. */
  val CsvSchema: String = ("id" +: StringQuals).mkString(",")
}

/** `mixed_rw`: the preloaded table and the seeded foreground op stream. */
final case class MixedGen(seed: Long, rows: Int, commits: Int = 4) {
  import MixedGen._

  def preloadCells(i: Long): Seq[GenCell] = {
    val r = Gen.rng(seed, 2, i)
    val key = rowKey(i)
    val c = r.nextInt(commits)
    Quals.map(q => GenCell(key, "c", q, valueFor(r, q).getBytes(UTF_8), 1L, c))
  }
}

object MixedGen {
  val Quals: Seq[String] = (0 until 5).map(i => s"q$i")
  /** Indexed qualifier: decimal strings, looked up by exact value. */
  val IndexQual = "q0"
  val IndexPad = 6
  def rowKey(i: Long): String = f"m$i%08d"
  def valueFor(r: SplittableRandom, q: String): String =
    if (q == IndexQual) r.nextInt(999000).toString else Gen.text(r, 16, 64)
}

/** `dedup`: a Zipf-vocabulary corpus with planted exact copies, near copies
  * at known edit distances, embedding near-duplicates at known cosine, and
  * docs built to fail the quality gate.
  */
final case class DedupGen(seed: Long, docs: Int) {
  import DedupGen._

  def kind(i: Long): Kind = {
    val r = Gen.rng(seed, 3, i)
    if (i < 100) return Original
    val roll = r.nextInt(100)
    // Planted relatives point at an earlier ORIGINAL (never a chain).
    def earlier(): Long = {
      var j = r.nextLong(i)
      while (kind(j) != Original) j = r.nextLong(i)
      j
    }
    if (roll < 3) Bad
    else if (roll < 6) ExactOf(earlier())
    else if (roll < 10) NearOf(earlier(), 1 + r.nextInt(3))
    else if (roll < 13) VecNearOf(earlier())
    else Original
  }

  private def originalTokens(i: Long): Array[String] = {
    val r = Gen.rng(seed, 4, i)
    Array.fill(50 + r.nextInt(251))(Vocab(zipfRank(r)))
  }

  def text(i: Long): String = kind(i) match {
    case Original | VecNearOf(_) => originalTokens(i).mkString(" ")
    case Bad => "x y z"
    case ExactOf(j) => text(j)
    case NearOf(j, edits) =>
      val t = originalTokens(j).clone()
      val r = Gen.rng(seed, 5, i)
      // `edits` distinct positions, each replaced by a different word.
      val pos = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (pos.size < edits) pos += r.nextInt(t.length)
      pos.foreach { p =>
        var w = t(p)
        while (w == t(p)) w = Vocab(zipfRank(r))
        t(p) = w
      }
      t.mkString(" ")
  }

  private def baseEmbedding(i: Long): Array[Float] = {
    val r = Gen.rng(seed, 6, i)
    Array.fill(Dim)(r.nextGaussian().toFloat)
  }

  def embedding(i: Long): Array[Float] = kind(i) match {
    case ExactOf(j) => embedding(j)
    case VecNearOf(j) =>
      val b = embedding(j)
      val r = Gen.rng(seed, 7, i)
      val norm = math.sqrt(b.map(x => x.toDouble * x).sum)
      // Noise norm 4.5–6.5 % of the vector's: cosine ~0.998–0.999, above
      // the 0.995 semantic threshold.
      val scale = norm * (0.045 + 0.02 * r.nextDouble()) / math.sqrt(Dim)
      b.map(x => (x + scale * r.nextGaussian()).toFloat)
    case _ => baseEmbedding(i)
  }

  def digest: String = {
    val d = new Gen.Digest
    (0L until docs).foreach { i =>
      d.add(i).add(text(i))
      embedding(i).foreach(f => d.add(java.lang.Float.floatToIntBits(f).toLong))
    }
    d.hex
  }
}

object DedupGen {
  /** What doc `i` is: an original, or planted relative to an earlier doc. */
  sealed trait Kind
  case object Original extends Kind
  case object Bad extends Kind
  final case class ExactOf(j: Long) extends Kind
  final case class NearOf(j: Long, edits: Int) extends Kind
  final case class VecNearOf(j: Long) extends Kind

  val Dim = 64
  val Stop: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  private val Cons = "bcdfghjklmnprstvwz"
  private val Vow = "aeiou"
  /** Rank-ordered vocabulary: stop words first, then unique syllable words. */
  val Vocab: Array[String] = (Stop ++ (0 until 8000).map { n =>
    var x = n + 90 // at least two syllables
    val sb = new StringBuilder
    while (x > 0) {
      val s = x % 90
      sb += Cons(s / 5); sb += Vow(s % 5)
      x /= 90
    }
    sb.toString
  }).toArray
  /** Zipf(1.0) cumulative weights over [[Vocab]] ranks. */
  private val Cum: Array[Double] = {
    val w = Vocab.indices.map(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def zipfRank(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val k = java.util.Arrays.binarySearch(Cum, u)
    math.min(Vocab.length - 1, if (k >= 0) k else -k - 1)
  }
}
