package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
import org.apache.spark.sql.functions.{col, concat, expr, format_string, hash, lit, pmod}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** SALTED rowKeys for `graft-kv` tables — the HBase/Phoenix
  * (`SALT_BUCKETS`) fix for key-range hotspotting: a stored key is
  * `"%03d|" % (murmur3(key) mod n)` + the logical key, so any narrow
  * LOGICAL key range (a time-prefixed "latest keys" scan, a tenant
  * prefix) physically spreads over `n` stored subranges instead of
  * landing in one region — a range scan that would occupy 1 task on an
  * unsalted layout fans out across every region the salt spread it over,
  * and a region layout with fixed split points never develops a hot tail.
  *
  * The engine keeps the salt OUT of user space:
  *  - WRITE: [[salted]] prefixes the rowKey column (plain codegen'd
  *    `hash`/`format_string` — one narrow projection, no shuffle of its
  *    own) before any `format("graft-kv")` write, batch or streaming. The
  *    sink then range-partitions on the STORED key as usual — every
  *    lifecycle mechanism (manifest stats, blooms, compaction, snapshots)
  *    works on salted tables untouched, because a salted key is just a
  *    key.
  *  - READ: `.option("saltBuckets", n)` on the scan strips the prefix
  *    from every emitted rowKey and rewrites pushed rowKey predicates to
  *    stored form ([[expand]]): a point Get maps to its ONE salted key
  *    (the bucket is a function of the key — still a 1-file bloom-pruned
  *    lookup), a range maps to the n per-salt ranges (an Or the
  *    disjunctive pruner and the parquet record filter both consume
  *    exactly). Spark's residual re-check runs on the STRIPPED key
  *    against the ORIGINAL predicate, so the expansion is never the
  *    correctness boundary.
  *
  * What salting deliberately gives up (both refused at pushdown, so plans
  * stay correct via the ordinary sort): rowKey TOP-N pushdown and the
  * scan's per-partition ordering report — stored order interleaves
  * buckets, not logical keys. MIN/MAX(rowKey) metadata aggregates are
  * likewise refused (manifest bounds are stored-form).
  *
  * The salt function is Spark's own `hash()` (Murmur3, seed 42) so the
  * write-side column expression and the read-side driver rewrite can
  * never disagree; [[saltOf]] evaluates the identical Catalyst expression
  * driver-side.
  */
object KvSalt {

  /** Stored-prefix width: 3 digits + '|'. */
  val Width = 4

  /** HBase guidance caps salt buckets near the region-server count;
    * Phoenix caps SALT_BUCKETS at 256. Same bound here — more buckets
    * than that only multiplies range-expansion fan-out.
    */
  val MaxBuckets = 256

  def requireBuckets(n: Int): Unit =
    require(n >= 1 && n <= MaxBuckets,
      s"graft-kv: saltBuckets must be in [1, $MaxBuckets], got $n")

  /** The bucket of one key — the driver-side twin of the write column:
    * `pmod(hash(rowKey), n)` evaluated through the same Murmur3Hash
    * Catalyst expression `functions.hash` compiles to.
    */
  def saltOf(key: String, n: Int): Int = {
    val h = Murmur3Hash(Seq(Literal(UTF8String.fromString(key), StringType)), 42)
      .eval(InternalRow.empty).asInstanceOf[Int]
    ((h % n) + n) % n
  }

  /** The hot-path twin of [[saltOf]] for the sink's per-row validation:
    * the same Murmur3 bytes-hash `functions.hash` codegens for a
    * UTF8String (seed 42), no expression eval per row.
    */
  def saltOfUtf8(key: UTF8String, n: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      key.getBaseObject, key.getBaseOffset, key.numBytes(), 42)
    ((h % n) + n) % n
  }

  /** Whether a STORED key is self-consistent under `n` buckets: a
    * `"%03d|"` prefix whose value is the salt of the suffix. The sink
    * validates every row written to a REGISTERED salted table with this —
    * an unsalted (or wrong-n) write would otherwise silently corrupt the
    * layout, and no read would ever error.
    */
  def isStored(key: UTF8String, n: Int): Boolean = {
    if (key == null || key.numBytes() < Width) return false
    if (key.getByte(3) != '|') return false
    var s = 0
    var i = 0
    while (i < 3) {
      val b = key.getByte(i)
      if (b < '0' || b > '9') return false
      s = s * 10 + (b - '0')
      i += 1
    }
    s < n && s == saltOfUtf8(key.substring(Width, Int.MaxValue), n)
  }

  /** The stored form of one logical key. */
  def stored(key: String, n: Int): String = f"${saltOf(key, n)}%03d|$key"

  /** The stored prefix of one bucket (every bucket-`s` key starts with it). */
  private def bucketPrefix(s: Int): String = f"$s%03d|"

  /** Salt a cell DataFrame's rowKey for writing — call immediately before
    * `.write.format("graft-kv")` / `.writeStream...` with the SAME `n`
    * every writer of the table uses. Prefer [[saltedWrite]], which also
    * RECORDS `n` as a table property so reads auto-detect it.
    */
  def salted(df: DataFrame, n: Int): DataFrame = {
    requireBuckets(n)
    df.withColumn("rowKey",
      concat(format_string("%03d|", pmod(hash(col("rowKey")), lit(n))),
        col("rowKey")))
  }

  /** Name of the recorded bucket-count property under the table's log dir
    * — the HBase `SALT_BUCKETS` table attribute: the salt is a property of
    * the TABLE, not of each reader's memory. Scans auto-detect it when the
    * `saltBuckets` option is absent and REFUSE a mismatching option
    * (reading a 16-bucket table as 8-bucket silently drops/garbles rows —
    * exactly the operator error a recorded attribute exists to prevent).
    */
  private val PropName = "_salt"

  /** The table's recorded bucket count, if any. Only genuine ABSENCE maps
    * to None: a present-but-unreadable property throws, because falling
    * back to "unsalted" on a registered table would silently emit stored
    * keys and evaluate predicates unexpanded — wrong results, no error.
    * (The recorded file is immutable once written — [[register]] never
    * overwrites — so there is no torn-overwrite window to tolerate.)
    */
  def bucketsOf(fs: FileSystem,
      table: Path): Option[Int] = {
    val p = new Path(
      new Path(table, KvLog.LogDirName), PropName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try {
        val buf = new Array[Byte](16)
        val read = in.read(buf)
        new String(buf, 0, math.max(read, 0), "UTF-8").trim
      } finally in.close()
      val n = try text.toInt catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"graft-kv: corrupt salt property at $p ('$text') — refusing to " +
            "guess whether the table is salted")
      }
      requireBuckets(n)
      Some(n)
    }
  }

  /** Record the table's bucket count. Idempotent for the SAME `n`; a
    * DIFFERENT `n` against an existing record is refused — appending
    * 16-bucket rows to an 8-bucket table doesn't error at read time, it
    * silently mis-routes point lookups, so the write side must be the
    * guard. First registration stages + renames (no in-place overwrite a
    * reader could tear).
    */
  def register(fs: FileSystem,
      table: Path, n: Int): Unit = {
    requireBuckets(n)
    bucketsOf(fs, table) match {
      case Some(existing) if existing == n => () // already recorded
      case Some(existing) => throw new IllegalArgumentException(
        s"graft-kv: table $table is recorded as salted with $existing " +
          s"buckets; refusing to re-register with $n (mixed-salt keys " +
          "would mis-route every read)")
      case None =>
        val dir = new Path(table, KvLog.LogDirName)
        fs.mkdirs(dir)
        val tmp = new Path(dir,
          s".tmp-salt-${java.util.UUID.randomUUID().toString.take(8)}")
        val out = fs.create(tmp, false)
        try out.write(n.toString.getBytes("UTF-8")) finally out.close()
        // Atomic no-overwrite publish (KvLog.atomicPublish): two racing
        // first registrations with DIFFERENT n must not silently replace
        // each other — the loser re-enters and hits the mismatch refusal.
        if (!KvLog.atomicPublish(fs, tmp, new Path(dir, PropName))) {
          fs.delete(tmp, false)
          register(fs, table, n) // lost the race: verify the winner's n
        }
    }
  }

  /** Name of the DECLARATION-SEQ marker dir under the table's log dir:
    * one IMMUTABLE, EMPTY file per declaration, named by the manifest seq
    * that carries a salt-layout declaration ([[KvLog.Entry.saltDecl]]).
    * Written by [[declare]] BEFORE the declaring entry publishes, so
    * there is no window in which a reader plans a declared entry's files
    * without knowing where to find its layout; a marker naming a seq
    * whose entry never published (aborted resalt) is skipped by
    * [[resolveAt]] — markers are a lookup accelerator, never an
    * authority.
    *
    * Per-seq immutable markers (not one mutable list file) make
    * declaration discovery CRASH-PROOF AND LOCK-FREE: a single rewritten
    * hint needs delete-then-rename on stores without replacing atomic
    * rename, and a crash between the two would permanently hide every
    * published declaration — [[resolveAt]] would silently fall back to
    * the stale `_salt` registration (the superseded layout, no error).
    * A marker file either exists or it doesn't; concurrent declarers at
    * different seqs touch different files and cannot drop each other.
    */
  private val DeclDirName = "_saltdecl"

  private def declDir(table: Path) =
    new Path(new Path(table, KvLog.LogDirName), DeclDirName)

  /** Manifest seqs carrying salt declarations, newest first; empty for
    * every table whose layout never changed (then [[resolveAt]] is a
    * marker-dir probe + a `_salt` probe — still O(1) metadata reads).
    */
  private[sources] def declSeqs(fs: FileSystem, table: Path): Seq[Long] =
    try {
      fs.listStatus(declDir(table)).toSeq.map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(c => c >= '0' && c <= '9'))
        .map(_.toLong).sorted(Ordering[Long].reverse)
    } catch { case _: java.io.FileNotFoundException => Nil }

  /** Record `seq` as a (pending) declaration seq: create the immutable
    * per-seq marker. Call BEFORE publishing the declaring entry — see
    * [[DeclDirName]] for why the order matters. Idempotent: a marker that
    * already exists (a concurrent declarer hinting the same contended
    * seq) is exactly the state this call establishes.
    */
  private[sources] def declare(fs: FileSystem, table: Path, seq: Long): Unit = {
    require(seq >= 0, s"graft-kv: declaration seq must be non-negative, got $seq")
    val p = new Path(declDir(table), seq.toString)
    fs.mkdirs(p.getParent)
    // "Already exists" is the idempotent no-op, but FileSystem impls
    // signal it three ways: the Hadoop exception, the NIO one (raw-local
    // delegates to java.nio), or a plain IOException whose cause is the
    // file existing — distinguish the last from a genuine store error by
    // re-probing existence.
    try fs.create(p, false).close()
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
      case _: java.nio.file.FileAlreadyExistsException => ()
      case e: java.io.IOException => if (!fs.exists(p)) throw e
    }
  }

  /** Drop `seq`'s marker — the rollback for an ABORTED declaring publish.
    * Best-effort: a stale pending marker left behind by a crash only
    * costs [[resolveAt]] one wasted entry probe.
    *
    * Guarded against the two-declarers race: when TWO declaring
    * operations (a resalt and a layout-restoring restore, say) both
    * marked the same seq and the OTHER one won the publish, the entry at
    * `seq` carries a genuine declaration — deleting the marker then would
    * make [[resolveAt]] permanently resolve the superseded layout. The
    * loser's rollback must leave a published declaration's marker alone.
    */
  private[sources] def undeclare(fs: FileSystem, table: Path, seq: Long): Unit = {
    if (KvLog.read(fs, table, seq).exists(_.saltDecl.isDefined)) return
    fs.delete(new Path(declDir(table), seq.toString), false): Unit
  }

  /** The newest PUBLISHED declaration seq (-1 = none): hinted seqs whose
    * entry never published (a resalt's declare-to-publish window, or an
    * aborted one awaiting rollback) are skipped — a consumer pinning its
    * layout epoch must not adopt a declaration its own salt resolution
    * (which also skips unpublished hints) did not see.
    */
  private[sources] def newestPublishedDecl(fs: FileSystem, table: Path): Long =
    declSeqs(fs, table)
      .find(s => KvLog.read(fs, table, s).exists(_.saltDecl.isDefined))
      .getOrElse(-1L)

  /** Record the layout in the table's `salt_buckets` property — the
    * durable fallback + catalog write-injection source every declaring
    * operation updates after its publish (resalt success, resalt crash
    * repair, layout-restoring restore). One definition so the paths
    * cannot drift.
    */
  private[sources] def recordLayoutProperty(fs: FileSystem, table: Path,
      to: Option[Int]): Unit = {
    val props = KvTableProps.read(fs, table)
    KvTableProps.replace(fs, table,
      to.fold(props - "salt_buckets")(n =>
        props + ("salt_buckets" -> n.toString)))
  }

  /** THE salt-resolution entrypoint: the table's layout as of manifest seq
    * `asOf` (None = current). The newest manifest declaration at or below
    * the bound wins — `Some(0)` (declared unsalted) maps to None — and a
    * table with no declarations falls through to the `_salt` registration
    * file, so never-resalted tables (the overwhelmingly common case) pay
    * exactly the old single-probe cost. Every consumer of "is this table
    * salted, with how many buckets" goes through here; reading the
    * registration file directly would miss layout changes.
    */
  def resolveAt(fs: FileSystem, table: Path, asOf: Option[Long]): Option[Int] = {
    val bound = asOf.getOrElse(Long.MaxValue)
    val declared = declSeqs(fs, table).iterator
      .filter(_ <= bound)
      .map(s => KvLog.read(fs, table, s))
      .collectFirst { case Some(e) if e.saltDecl.isDefined => e.saltDecl.get }
    declared match {
      case Some(n) => if (n > 0) Some(n) else None
      case None => bucketsOf(fs, table)
    }
  }

  /** Commit-time layout agreement: the salt a finished write stored its
    * rows under must still be the table's layout AT COMMIT — a
    * [[KvResalt]] landing between write-builder creation (where the salt
    * was resolved and every row validated against it) and the commit
    * would otherwise publish rows in the superseded layout, corrupting
    * the table with no error on any later read. One driver-side probe per
    * commit; throws before any data file is renamed into the table.
    */
  private[sources] def requireLayoutUnchanged(fs: FileSystem, table: Path,
      wrote: Option[Int], ctx: String): Unit = {
    val now = resolveAt(fs, table, None)
    if (now != wrote) throw new IllegalStateException(
      s"graft-kv: $ctx resolved the salt layout of $table as " +
        s"${wrote.fold("unsalted")(n => s"$n buckets")} but the table now " +
        s"stores ${now.fold("unsalted")(n => s"$n buckets")} keys — a " +
        "resalt ran mid-write; aborting the commit before it lands " +
        "rows in the superseded layout (re-run the statement)")
  }

  /** Published declarations in `(fromExclusive, toInclusive]`, oldest
    * first, each with the layout it declares (None = unsalted) — what an
    * incremental (CDC) span consults: a span crossing a layout change
    * mixes files whose stored keys disagree on the salt, so no single
    * `saltBuckets` strips and expands it; the scan reads such a span per
    * file, each under the newest declaration at or below its entry.
    */
  def declsIn(fs: FileSystem, table: Path, fromExclusive: Long,
      toInclusive: Long): Seq[(Long, Option[Int])] =
    declSeqs(fs, table).reverse
      .filter(s => s > fromExclusive && s <= toInclusive)
      .flatMap(s => KvLog.read(fs, table, s).flatMap(_.saltDecl)
        .map(n => (s, if (n > 0) Some(n) else None)))

  /** Salt + write + record in one step: after this, plain
    * `spark.read.format("graft-kv").load(path)` reads the table salt-aware
    * with no option to remember (or get wrong).
    */
  def saltedWrite(df: DataFrame, path: String, n: Int, regions: Int,
      mode: String = "append"): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    // APPEND: register (reserve) the bucket count BEFORE the write — two
    // concurrent first writers with different n would both pass a
    // read-then-check (both see None) and durably commit mixed-salt rows
    // before the loser's post-write register throws; reserving first makes
    // the loser fail before any row lands (register's atomic no-overwrite
    // publish adjudicates the race, and a mismatch against an existing
    // record throws with the refusal message). OVERWRITE must register
    // AFTER: the sink's truncate resets the log dir — property included —
    // mid-write, so a pre-registration would be wiped.
    //
    // A first-time registration is only valid on an EMPTY table: flipping
    // an UNSALTED table with data to "salted" would make every plain read
    // strip 4 chars off genuine rowKeys and expand predicates over keys
    // that were never salted — silently garbled results for the old rows
    // (and the new rows would mix layouts regardless). Refuse up front;
    // the conversion path is a salted overwrite or a fresh table. (A
    // failed write after a valid empty-table reservation leaves only the
    // property: later plain writes fail the per-row salt validation
    // LOUDLY, never silently.)
    // Resolution goes through the MANIFEST declarations ([[resolveAt]]):
    // after a [[KvResalt]] layout change the registration file is stale
    // by design, and appending under it would mix layouts silently.
    val current = if (mode != "overwrite") resolveAt(fs, p, None) else None
    if (mode != "overwrite" && current.isEmpty) {
      val nonEmpty = fs.exists(p) && fs.listStatus(p).exists(st =>
        st.isFile && st.getPath.getName.startsWith("part-") &&
          st.getPath.getName.endsWith(".parquet"))
      require(!nonEmpty,
        s"graft-kv: $path already holds unsalted data — a salted append " +
          "would mix key layouts and garble plain reads; use " +
          "mode=overwrite to convert, CALL sys.resalt, or a fresh table")
    }
    if (mode != "overwrite") current match {
      case Some(m) => require(m == n,
        s"graft-kv: table $path stores $m-bucket salted keys; refusing a " +
          s"$n-bucket salted append (mixed-salt keys would mis-route " +
          "every read) — resalt the table or match its layout")
      case None => register(fs, p, n)
    }
    // `saltedInput` tells a TRUNCATING write the rows are pre-salted with
    // this n (the sink refuses unsalted overwrites of catalog-declared
    // salted tables, and validates declared vs n — KvWriteBuilder doc).
    salted(df, n).write.format("graft-kv").option("regions", regions)
      .option("saltedInput", n)
      .mode(mode).save(path)
    if (mode == "overwrite") register(fs, p, n)
  }

  /** Strip the salt prefix — the read-side inverse for code that consumes
    * the raw files rather than the salt-aware scan.
    */
  def unsalted(df: DataFrame): DataFrame =
    df.withColumn("rowKey",
      expr(s"substring(rowKey, ${Width + 1})"))

  /** Rewrite one pushed filter from LOGICAL to STORED key space. Exact —
    * stored keys are precisely `{stored(k) : k}`, each disjunct pins one
    * bucket's contiguous stored range, and non-rowKey predicates pass
    * through — so the result is safe for the parquet record filter, the
    * disjunctive region pruner, the bloom prober, AND the per-reader
    * limit cap (expansion introduces no inexact translation beyond what
    * the original filter already had).
    */
  def expand(f: Filter, n: Int): Filter = {
    def allBuckets(mk: Int => Filter): Filter =
      (0 until n).map(mk).reduceLeft[Filter](Or(_, _))
    // Bucket s's stored keys live in [bucketPrefix(s), bucketPrefix(s+1));
    // the last bucket needs no upper bound — no higher prefix exists.
    def bounded(s: Int, f: Filter): Filter =
      if (s == n - 1) f else And(f, LessThan("rowKey", bucketPrefix(s + 1)))
    f match {
      case EqualTo("rowKey", v: String) => EqualTo("rowKey", stored(v, n))
      case In("rowKey", vs) if vs.forall(_.isInstanceOf[String]) =>
        In("rowKey", vs.collect { case s: String => stored(s, n): Any })
      case GreaterThan("rowKey", v: String) =>
        allBuckets(s => bounded(s, GreaterThan("rowKey", bucketPrefix(s) + v)))
      case GreaterThanOrEqual("rowKey", v: String) =>
        allBuckets(s =>
          bounded(s, GreaterThanOrEqual("rowKey", bucketPrefix(s) + v)))
      case LessThan("rowKey", v: String) =>
        allBuckets(s => And(GreaterThanOrEqual("rowKey", bucketPrefix(s)),
          LessThan("rowKey", bucketPrefix(s) + v)))
      case LessThanOrEqual("rowKey", v: String) =>
        allBuckets(s => And(GreaterThanOrEqual("rowKey", bucketPrefix(s)),
          LessThanOrEqual("rowKey", bucketPrefix(s) + v)))
      case StringStartsWith("rowKey", p) =>
        allBuckets(s => StringStartsWith("rowKey", bucketPrefix(s) + p))
      case And(l, r) => And(expand(l, n), expand(r, n))
      case Or(l, r) => Or(expand(l, n), expand(r, n))
      case other => other
    }
  }

  def expandAll(filters: Array[Filter], n: Int): Array[Filter] =
    filters.map(expand(_, n))
}
