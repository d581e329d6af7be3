package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, VectorOps}
import graft.functions.IntMath.idiv

/** Deduplication operators for training-data pipelines (SURVEY §7.6): exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (the point — these must survive 100 TB):
  *  - Exact: one hash-aggregate shuffle on the dedup key. No O(n²) anywhere.
  *  - Jaccard: candidate pairs come from an *inverted index* join
  *    (shingle → docs), never a cross join; the shingle join key is the
  *    natural salt — hot shingles are the known skew risk, capped upstream by
  *    a document-frequency filter at real scale.
  *  - MinHash+LSH: fixed-width signatures (16 longs/doc regardless of doc
  *    size), banding turns near-dup search into an equi-join on (band, key) —
  *    the classic sub-quadratic path; verification touches only candidates.
  *  - SimHash: 64-bit signature (62 informative bits), 4×16-bit banding.
  *    Pigeonhole makes banding EXACT for hamming ≤ 3 (3 flipped bits cannot
  *    dirty all 4 bands), so the LSH plan returns byte-identical results to
  *    the quadratic scan the oracle runs.
  *  - Embedding cosine: brute-force pair scan here (the correctness baseline
  *    the oracle can replay); the sub-quadratic ANN path is
  *    [[Similarity.lshTopK]].
  *
  * Determinism contract: hashes are [[graft.functions.PolyHashExpr]] (oracle-
  * reproducible), ratios integer-scaled, all pair outputs keyed a < b.
  */
object Dedup {

  /** MinHash universe: same Mersenne prime as PolyHash. */
  val P: Long = 2147483647L
  val NumHashes = 16
  val BandRows = 4 // 4 bands x 4 rows
  def hashA(j: Int): Long = 2L * j + 1
  def hashB(j: Int): Long = 7919L * j + 13

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word 3-shingles (1-based element_at mirrors the oracle's
    * 1-based list indexing).
    */
  def shingles(t: Column): Column =
    array_distinct(transform(sequence(lit(1), size(t) - 2), i =>
      concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))

  // ---------------------------------------------------------------- exact

  /** The 128-bit dedup key: two independent 64-bit xxhashes of the text
    * (the second seeded through a salt prefix). Group identity by hash pair
    * instead of by text: the exchange ships 16 bytes per row and the sort
    * comparator touches 16 bytes, never a megabyte-wide document.
    */
  def textKey128(text: Column): Seq[Column] =
    Seq(xxhash64(text).as("_h1"), xxhash64(lit("graft.dedup.salt"), text).as("_h2"))

  /** Exact dedup: canonical id = min doc_id among identical texts.
    *
    * One shuffle, keyed on [[textKey128]] — the document text never crosses
    * the exchange. Two DISTINCT texts colliding on both independent 64-bit
    * hashes would merge groups; at n documents the probability is
    * ~n²/2^129 (< 10^-15 even at 10^12 docs), orders below any hardware
    * fault rate. `verifyTexts = true` additionally carries the text through
    * the shuffle and raises on a detected collision — the audited mode for
    * runs that must not lean on that bound (costs the full-text shuffle this
    * path exists to avoid).
    */
  def exact(docs: DataFrame, verifyTexts: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("_h1"), col("_h2"))
    val keyed = docs.select(col("doc_id") +: textKey128(col("text")) :+
      (if (verifyTexts) col("text") else lit(null).cast("string")).as("_t"): _*)
    val canonical = min(col("doc_id")).over(w)
    val checked =
      if (!verifyTexts) canonical
      // min != max over the hash group ⇒ two different texts share the key.
      else when(min(col("_t")).over(w) =!= max(col("_t")).over(w),
        raise_error(concat(lit("128-bit dedup key collision in group ("),
          col("_h1"), lit(","), col("_h2"), lit(")"))))
        .otherwise(canonical)
    keyed.select(
      col("doc_id"),
      checked.as("canonical_id"),
      (col("doc_id") =!= canonical).as("is_dup"))
  }

  // -------------------------------------------------------------- jaccard

  /** Per-doc distinct shingle rows — the inverted-index relation.
    *
    * The token array is MATERIALIZED via a projection before the shingle
    * lambda touches it: `element_at` inside a higher-order function
    * re-evaluates its child per element, so an inline `split()` would run
    * 3×|shingles| times per row (measured ~15× slowdown at sf0.1).
    */
  private def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(shingles(col("t"))).as("s"))

  /** Posting lists longer than this are dropped from pair generation (not
    * from set sizes): a boilerplate shingle shared by 100k docs would emit
    * |ids|²/2 pairs — quadratic WORK no fan-out shape can hide. The cap
    * bounds total pair generation at maxPosting²/2 per key and is mirrored
    * verbatim in the oracle SQL; per-row MEMORY is bounded separately at
    * O(maxPosting) by the two-stage fan-out in [[jaccardOverKeys]]. The
    * designed upstream control at real scale is the `maxDf` document-
    * frequency filter — this cap is the backstop behind it.
    */
  val MaxPosting = 10000

  /** N-gram Jaccard near-dup pairs via an inverted index: doc pairs that
    * share ≥1 shingle, scored |A∩B| / |A∪B|, kept at ≥ `threshold`/1000.
    *
    * Pair generation is one `groupBy(shingle)` + in-row pair fan-out rather
    * than a two-sided self-join — the shingle relation is shuffled ONCE
    * (a self-join ships it twice and re-partitions both sides). Posting
    * lists are sorted so pairs come out (a < b) directly; Σ|posting|² is the
    * inherent cost of exact Jaccard — the sub-quadratic escape is
    * [[minhashLshPairs]].
    */
  def jaccardPairs(docs: DataFrame, threshold: Long = 800L,
      maxDf: Int = Int.MaxValue): DataFrame = {
    // `sh` feeds two consumers (per-doc sizes, posting lists), so the scan +
    // tokenize + shingle pipeline runs twice. Measured A/B: checkpointing it
    // costs as much as the recompute at bench scale (the pair fan-out
    // dominates); at 100 TB persist the shingle relation once instead.
    // distinctKeys = false: shingleRows is already distinct per doc
    // (array_distinct upstream) — skip the redundant exchange.
    jaccardOverKeys(shingleRows(docs), "doc_id", "s", threshold,
      distinctKeys = false, maxDf = maxDf)
  }

  /** GENERIC inverted-index Jaccard over any (id, key) relation — ids that
    * share ≥1 key, scored |A∩B| / |A∪B| over DISTINCT keys, kept at ≥
    * `threshold`/1000. The engine's one pair-similarity shape, reused by
    * text shingles ([[jaccardPairs]]) and multimodal frame signatures
    * ([[Multimodal]]): one groupBy(key) + two-stage pair fan-out, never a
    * two-sided self-join; keys with document frequency above `maxDf` are
    * removed from the similarity space entirely, and posting lists above
    * `maxPosting` are dropped from pair generation (the quadratic-work
    * backstop), both mirrored verbatim in the oracles.
    */
  def jaccardOverKeys(rel: DataFrame, idCol: String, keyCol: String,
      threshold: Long, maxPosting: Int = MaxPosting,
      distinctKeys: Boolean = true, maxDf: Int = Int.MaxValue): DataFrame = {
    val raw = rel.select(col(idCol).as("_id"), col(keyCol).as("_k"))
    val kv = if (distinctKeys) raw.distinct() else raw
    // Posting lists are built with the BOUNDED collector: per-key memory is
    // O(cap) no matter how hot the key (a viral key's list is NULL, never a
    // one-row giant array in an aggregation buffer — §2.5), and the cap is
    // the tighter of the two controls in force. The per-(id,key) relation is
    // aggregated ONCE, on one exchange by _k — everything upstream (scan,
    // tokenize, shingle fan-out) is planned exactly once below it.
    //
    // Document-frequency stopword filter (the designed upstream hot-key
    // control): keys shared by more than `maxDf` ids carry near-zero
    // similarity signal (boilerplate shingles, constant frame signatures)
    // and dominate pair-generation cost. They are dropped from the ENTIRE
    // similarity space — set sizes and pair generation alike — so the score
    // stays a true Jaccard over the filtered key universe. Posting length ==
    // document frequency (the relation is distinct per (id, key)), so the
    // filter is a length test on the posting list itself — the r21 shape
    // (a count aggregate + a second full pass over the (id,key) relation to
    // re-join the surviving keys) re-ran the whole shingle pipeline per
    // consumer. Default Int.MaxValue = off (the base queries keep their
    // semantics); `maxPosting` stays as the work backstop behind the filter.
    val cap = if (maxDf == Int.MaxValue) maxPosting else math.min(maxDf, maxPosting)
    val postingsAll = kv.groupBy(col("_k"))
      .agg(graft.functions.BoundedSortedIdsAgg
        .boundedSortedIds(col("_id"), cap).as("ids"))
    // With the df filter on, per-id set sizes come from EXPLODING the kept
    // postings — the filtered key universe, one narrow (id) shuffle — not
    // from a second scan of the input relation.
    val (kept, sizes) =
      if (maxDf == Int.MaxValue)
        (postingsAll,
          kv.groupBy(col("_id")).agg(count(lit(1)).as("n")))
      else {
        val k = postingsAll.filter(col("ids").isNotNull)
        (k, k.select(explode(col("ids")).as("_id"))
          .groupBy(col("_id")).agg(count(lit(1)).as("n")))
      }
    // NULL ids = the key overflowed the cap (df filter or posting backstop):
    // dropped from pair generation, exactly the r21 `size <= maxPosting`
    // semantics.
    val postings = kept.filter(col("ids").isNotNull && size(col("ids")) > 1)
    // Two-stage pair fan-out, O(maxPosting) memory per row: posexplode the
    // anchor element first (one row per (posting, anchor)), THEN explode the
    // anchor's strict suffix. A one-shot nested-transform build would
    // materialize all |ids|²/2 (a,b) structs as a SINGLE array value before
    // its explode — ~800 MB in one row buffer at the posting cap, an
    // executor OOM waiting for a hot key. Same pair multiset (every (i, j)
    // with i < j exactly once), streamed row-at-a-time through codegen.
    val anchors = postings.select(col("ids"),
      posexplode(col("ids")).as(Seq("_pos", "a")))
    val pairs = anchors.select(col("a"),
      explode(slice(col("ids"), col("_pos") + 2,
        size(col("ids")) - col("_pos") - 1)).as("b"))
    val inter = pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("sa"), col("a") === col("sa._id"))
      .join(sizes.as("sb"), col("b") === col("sb._id"))
      .select(col("a"), col("b"),
        idiv(col("i") * 1000L, col("sa.n") + col("sb.n") - col("i")).as("jac_x1000"))
      .filter(col("jac_x1000") >= threshold)
  }

  // ------------------------------------------------------- decontamination

  /** Distinct word k-gram rows (doc_id, s) — [[shingleRows]] generalized to
    * any window width. The token array is materialized via a projection
    * first, for the same reason documented on [[shingleRows]].
    */
  private def shingleRowsK(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), size(col("t")) - (k - 1)), i =>
          concat_ws(" ", (0 until k).map(d => element_at(col("t"), i + d)): _*)))).as("s"))

  /** Benchmark decontamination scan: training docs that share at least one
    * word k-gram with the benchmark/eval set, with the count of distinct
    * shared k-grams as the contamination evidence.
    *
    * Scale shape: eval sets are tiny next to a training corpus (MBs vs TBs),
    * so the benchmark's distinct-gram set is BROADCAST — the corpus is
    * scanned exactly once, the gram join is map-side, and only the matched
    * gram rows (contaminated docs only) reach the single aggregation
    * exchange. The corpus itself is never shuffled. k defaults to 5 here;
    * production decontamination runs use k≈13 — the knob is the same.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, k: Int = 5): DataFrame = {
    val benchGrams = shingleRowsK(bench, k).select(col("s")).distinct()
    shingleRowsK(train, k)
      .join(broadcast(benchGrams), "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("hits"))
  }

  // ------------------------------------------------------ substring spans

  /** Duplicated k-token span detection: every k-token window (all positions,
    * not distinct) whose text occurs more than once corpus-wide, aggregated
    * per doc as (window count, first position) — the window-level
    * approximation of suffix-array substring dedup: a duplicated run of
    * length L ≥ k shows up as L-k+1 duplicated windows at consecutive
    * positions.
    *
    * Scale shape: window STRINGS never cross an exchange — each window is
    * reduced to the 128-bit [[textKey128]]-style hash pair before the first
    * shuffle, so the duplicate-count exchange ships 32 bytes/row. Duplicate
    * counting is a partition-key analytic (one hash exchange), the per-doc
    * rollup is the second; collision odds are the documented ~n²/2^129 of
    * [[exact]].
    */
  def substringDupSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    // Window array materialized per doc (O(k·|doc|) in one buffer, the
    // shingleRows pattern) — positions are 1-based via posexplode + 1.
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k)
    val windows = toks.select(col("doc_id"),
      posexplode(transform(sequence(lit(1), size(col("t")) - (k - 1)), i =>
        concat_ws(" ", (0 until k).map(d => element_at(col("t"), i + d)): _*)))
        .as(Seq("_p", "_s")))
    val keyed = windows.select(col("doc_id"), (col("_p") + 1).as("pos"),
      xxhash64(col("_s")).as("_h1"),
      xxhash64(lit("graft.dedup.salt"), col("_s")).as("_h2"))
    val cnt = count(lit(1)).over(Window.partitionBy(col("_h1"), col("_h2")))
    keyed.withColumn("_c", cnt).filter(col("_c") > 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_windows"), min(col("pos")).as("first_pos"))
  }

  // -------------------------------------------------------------- minhash

  /** Fixed-width MinHash signature: s_j = min over shingles of
    * (a_j * polyHash(shingle) + b_j) mod P. Columns s0..s{15}.
    *
    * One fused pass per document ([[graft.functions.MinHashSig]]): the
    * declarative shingle-array + 16×(transform + array_min) formulation is
    * what the ORACLE replays; the expression folds the shingle hash across
    * the three tokens directly and updates all 16 minima per window —
    * identical values, zero intermediate arrays (`array_distinct` provably
    * cannot change a minimum and is skipped).
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    sigArray(docs).select(col("doc_id") +:
      (0 until NumHashes).map(j => element_at(col("sig"), j + 1).as(s"s$j")): _*)

  /** (doc_id, sig: array<long>[16]) — the fused signature relation. */
  private def sigArray(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        graft.functions.MinHash.minhashSig(col("t")).as("sig"))

  /** LSH banding over the signature: 4 bands × 4 rows; candidates share a
    * (band, key); verification counts matching signature components and
    * keeps pairs with ≥ `minMatches` of 16 (≈ Jaccard ≥ minMatches/16).
    */
  def minhashLshPairs(docs: DataFrame, minMatches: Long = 12L): DataFrame = {
    val sig = sigArray(docs)
    val nBands = NumHashes / BandRows
    // Signatures travel WITH the band rows (128 bytes each) so verification
    // needs no re-join back to the signature relation — the expensive
    // signature pipeline runs once per side instead of four times.
    val bands = sig.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .select(col("doc_id"), col("sig"), col("band"),
        concat_ws(",", (1 to BandRows).map(r =>
          element_at(col("sig"), col("band") * BandRows + r)): _*).as("key"))
    val joined = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("x.band").as("band"),
        zip_with(col("x.sig"), col("y.sig"), (x, y) => x === y).as("m"))
    // A pair colliding in several bands would duplicate; keep it only at its
    // FIRST matching band — a pure filter on the join output, vs. the naive
    // `.distinct()` that re-shuffles the entire candidate set (the largest
    // relation in the whole pipeline). Band b matches iff its 4 signature
    // components all match; the band key is a ","-join of digit strings, so
    // key equality == component equality and the reconstruction is exact.
    val bandMatches = array((0 until nBands).map(b =>
      forall(slice(col("m"), b * BandRows + 1, BandRows), x => x)): _*)
    joined
      .filter(array_position(bandMatches, lit(true)) - 1 === col("band"))
      .select(col("a"), col("b"),
        size(filter(col("m"), x => x)).cast("long").as("match16"))
      .filter(col("match16") >= minMatches)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over token occurrences (with multiplicity): one fused
    * codegen pass per document ([[graft.functions.SimHash64]] — two
    * independent 31-bit poly hashes per token feed fingerprint bits 0..30
    * and 31..61; 62 informative bits). The 32-bit predecessor measurably
    * concentrated unrelated short docs at hamming ≤ 3 (15% of all pairs at
    * 100k docs, BASELINE.md) — fingerprint width, not banding, was the
    * scale limit.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextHash.simHash64(tokens(col("text"))).as("simhash"))

  /** Near-dup pairs at hamming distance ≤ `maxHamming` (≤3 by default) via
    * 4×16-bit banding — exact by pigeonhole (3 flipped bits cannot dirty
    * all 4 bands), sub-quadratic by construction.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band LSH is only exact for hamming <= 3")
    val sh = simhash(docs)
    // One struct per 16-bit band (literal shifts; simhash < 2^62 so signed
    // shift is safe), exploded to (doc_id, simhash, band, key) rows.
    val bandStructs = array((0 until 4).map(k =>
      struct(lit(k).as("band"),
        shiftright(col("simhash"), 16 * k).bitwiseAND(lit(65535L)).as("key"))): _*)
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val joined = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("x.band").as("band"),
        col("x.simhash").bitwiseXOR(col("y.simhash")).as("hx"))
    // De-dup pairs colliding in several bands by keeping only the FIRST
    // matching band (16-bit slice k of the XOR is zero) — a filter on the
    // join output instead of a `.distinct()` re-shuffle of the candidate set.
    val bandMatches = array((0 until 4).map(k =>
      shiftright(col("hx"), 16 * k).bitwiseAND(lit(65535L)) === 0): _*)
    joined
      .filter(array_position(bandMatches, lit(true)) - 1 === col("band"))
      .select(col("a"), col("b"), bit_count(col("hx")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------- cluster assignment

  /** Edge-count ceiling for the driver-side union-find fast path. Same
    * reasoning as a broadcast join's autoBroadcastJoinThreshold: when the
    * *derived* relation (near-dup edges, a few % of the corpus) fits
    * comfortably in driver memory, one collect + linear union-find beats
    * distributed rounds; past the ceiling the distributed large/small-star
    * contraction runs instead. 2^20 edges ≈ 16 MB collected.
    */
  val DriverCcMaxEdges: Long = 1L << 20

  /** Diagnostics only: rounds the last distributed contraction took to
    * converge (−1 when the driver fast path served the call). Read by the
    * scale-evidence harness; not part of the result contract.
    */
  @volatile var lastDistributedRounds: Int = -1

  /** Connected-component clustering over a near-dup pair relation: every
    * document is labeled with the minimum doc_id reachable through pair
    * edges (its cluster's canonical id); documents in no pair keep their own
    * id. This is the step that turns pairwise near-dup evidence into
    * keep/drop decisions (keep the canonical doc per cluster).
    *
    * Algorithm (distributed path): alternating large-star / small-star edge
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — each round rewrites every edge toward its neighborhood
    * minimum, so chain distances roughly halve per round and convergence is
    * O(log n) rounds in the component diameter, NOT O(diameter) like naive
    * label propagation (a 10^6-long chain converges in ~20 rounds instead
    * of 10^6). Each round is two groupBy-min + two equi-joins + a distinct,
    * all shuffle-bounded on node ids; `localCheckpoint` truncates lineage so
    * round N doesn't replay rounds 1..N-1. At the fixpoint the edge set IS
    * the answer: a star per component rooted at the component minimum.
    *
    * Convergence is CHECKED, not assumed: the round loop tracks a
    * (count, hash-sum) signature and confirms the candidate fixpoint with an
    * exact set compare; if `maxRounds` passes without one the operator
    * throws rather than return a silently-partial clustering.
    */
  def clusters(docs: DataFrame, pairs: DataFrame, maxRounds: Int = 20,
      driverMaxEdges: Long = DriverCcMaxEdges): DataFrame = {
    // Pairs materialized BEFORE any reuse — self-unioning the plan would run
    // the expensive pair pipeline (LSH, shingling, ...) once per branch.
    val p0 = pairs.select(col("a"), col("b")).localCheckpoint()
    if (p0.count() * 2 <= driverMaxEdges) {
      lastDistributedRounds = -1
      val both = p0.select(col("a").as("src"), col("b").as("dst"))
        .union(p0.select(col("b").as("src"), col("a").as("dst")))
      return clustersDriver(docs, both)
    }
    // Canonical undirected edge form (lo < hi) — the rewrite invariant every
    // round preserves. Only nodes with edges participate; singletons join
    // back at the end with their own id.
    var edges = p0
      .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct().localCheckpoint()
    def signature(e: DataFrame): (Long, Long) = {
      // xor-fold of row hashes: order-independent, overflow-free set digest
      // (rows are distinct by construction, so xor cancellation is safe).
      val r = e.agg(count(lit(1)),
        bit_xor(xxhash64(col("lo"), col("hi")))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var sig = signature(edges)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nsig = signature(next)
      if (nsig == sig) {
        // Signature collision odds are ~2^-64, but confirm the fixpoint
        // exactly before trusting it — two anti-joins, paid once.
        converged = next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
      }
      edges = next
      sig = nsig
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"large/small-star contraction did not converge in $maxRounds rounds")
    lastDistributedRounds = round
    // Fixpoint edges form stars rooted at each component's min id.
    val labels = edges.select(col("hi").as("doc_id"), col("lo").as("cluster_id"))
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Large-star rewrite: for each node u, every strictly-larger neighbor v
    * re-attaches to m(u) = min(N(u) ∪ {u}). Output stays canonical
    * (m ≤ u < v). No per-node neighbor list is ever materialized — the
    * neighborhood minimum is a groupBy aggregate and the emit is an
    * equi-join, so a hot hub node costs a wide group, not a wide row.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val both = edges.select(col("lo").as("u"), col("hi").as("v"))
      .union(edges.select(col("hi").as("u"), col("lo").as("v")))
    val mins = both.groupBy(col("u")).agg(min(col("v")).as("nm"))
      .select(col("u"), least(col("u"), col("nm")).as("m"))
    both.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("m").as("lo"), col("v").as("hi"))
      .distinct()
  }

  /** Small-star rewrite: each node c with smaller neighbors N≤(c) attaches
    * them (and itself) to m = min(N≤(c)). Canonical in, canonical out.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy(col("hi")).agg(min(col("lo")).as("m"))
    val moved = edges.join(mins, "hi")
      .filter(col("lo") =!= col("m"))
      .select(col("m").as("lo"), col("lo").as("hi"))
    val kept = mins.select(col("m").as("lo"), col("hi"))
    moved.union(kept).distinct()
  }

  /** Small-graph fast path: collect the (bounded) edge set, run path-halving
    * union-find with min-id roots on the driver, broadcast-join the labels
    * back. Exactly the result the distributed rounds converge to.
    */
  private def clustersDriver(docs: DataFrame, edges: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val es = edges.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min id becomes the root → cluster id = component min
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val labels = es.map(_._1).distinct.map(n => n -> find(n)).toSeq
      .toDF("doc_id", "cluster_id")
    docs.select(col("doc_id"))
      .join(broadcast(labels), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  // ----------------------------------------------------- embedding cosine

  /** Paragraph-granular exact dedup with document reconstruction (the
    * "deduplicating training data" substring-dedup shape, at fixed
    * `chunkWords`-word granularity): every chunk keeps only its FIRST
    * occurrence in corpus order (min (doc_id, idx)), and each document is
    * rebuilt from the chunks it won — a doc that is entirely boilerplate
    * disappears, a doc sharing a preamble with an earlier doc loses just
    * that preamble.
    *
    * Plan shape: chunking is a map-only posexplode; then exactly two
    * shuffles, BOTH over already-compressed relations — the winner pick
    * groups by chunk text (map-side partial combine collapses same-chunk
    * occurrences per partition before the exchange), and the rebuild groups
    * the one-row-per-distinct-chunk winner set by doc_id. No join anywhere:
    * the winner aggregation already carries (chunk, winning doc, position),
    * which IS the reconstruction input. `collect_list` order is
    * indeterminate, so the rebuild sorts by the unique in-doc position
    * before concatenation — run-to-run deterministic.
    */
  def paragraphDedup(docs: DataFrame, chunkWords: Int = 10): DataFrame = {
    val words = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), tokens(col("text")).as("_ws"))
    val lastChunk = floor((size(col("_ws")) - 1) / lit(chunkWords)).cast("int")
    val chunks = words
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), lastChunk),
        i => concat_ws(" ", slice(col("_ws"), i * chunkWords + 1, lit(chunkWords))))))
      .select(col("doc_id"), col("pos").as("idx"), col("col").as("chunk"))
    val winners = chunks.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("_w"))
    winners.groupBy(col("_w.doc_id").as("doc_id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("_w.idx").as("idx"), col("chunk")))),
        s => s.getField("chunk"))).as("clean_text"))
  }

  /** SemDeDup-style SEMANTIC deduplication: cluster the corpus by
    * embedding (the same fixed coarse centroids the IVF ANN index uses —
    * [[Similarity.assignCells]], a codegen'd projection with no shuffle of
    * its own), compare pairs ONLY within a cluster, and drop every doc
    * that has a smaller-id neighbor at or above the cosine threshold
    * (keeper = the smallest such id, so the verdict is deterministic and
    * oracle-replayable). The cluster restriction is the published
    * sub-quadratic bound: comparisons are O(Σ cellᵢ²), not O(n²) — at
    * 100 TB the cell count scales with the corpus (like the ANN index's)
    * so cells stay bounded, and the one shuffle is the equi-join on
    * `cell`. A cross-cluster near-dup is missed by construction — the
    * SemDeDup trade, recoverable by raising the cell count's probe side,
    * not by this operator.
    *
    * Returns one row per input vector: (vec_id, cell, kept_by, is_dup) —
    * `kept_by` null for survivors.
    */
  def semanticDedup(embeddings: DataFrame, thresholdX1000: Long = 995L): DataFrame = {
    val slim = Similarity.assignCells(Similarity.index(embeddings))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val drops = slim.as("d").join(slim.as("k"),
        col("k.cell") === col("d.cell") && col("k.vec_id") < col("d.vec_id"))
      .filter(floor(VectorOps.dot(col("d.v"), col("k.v")) * 1000 /
        (col("d.nrm") * col("k.nrm"))).cast("long") >= thresholdX1000)
      .groupBy(col("d.vec_id").as("vec_id"))
      .agg(min(col("k.vec_id")).as("kept_by"))
    slim.select(col("vec_id"), col("cell"))
      .join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("kept_by"),
        col("kept_by").isNotNull.as("is_dup"))
  }

  /** Embedding near-dup pairs: brute-force cosine ≥ threshold/1000. The
    * oracle-checkable baseline; the sub-quadratic path is
    * [[embeddingLshPairs]].
    */
  def embeddingPairs(embeddings: DataFrame, threshold: Long = 400L): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      VectorOps.toDoubleArray(col("embedding")).as("v"))
    val n = e.select(col("vec_id"), col("v"),
      VectorOps.norm(col("v")).as("nrm"))
    n.as("x").join(n.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        floor(VectorOps.dot(col("x.v"), col("y.v")) * 1000 /
          (col("x.nrm") * col("y.nrm"))).cast("long").as("cos_x1000"))
      .filter(col("cos_x1000") >= threshold)
  }

  /** Embedding near-dup pairs at scale: candidates from random-hyperplane
    * LSH bucket collisions instead of the O(n²) scan — vectors pair up only
    * when some hash table puts them in the same sign-bit bucket; candidates
    * are exactly rescored and thresholded. Same (table, bucket) equi-join +
    * first-matching-table dedup shape as the MinHash/SimHash banding (a
    * filter, never a `.distinct()` of the candidate set). Approximate by
    * construction: a pair whose vectors collide in NO table is missed —
    * recall rises with tables, bucket width sizes with log(corpus).
    */
  def embeddingLshPairs(embeddings: DataFrame, threshold: Long = 400L): DataFrame = {
    import Similarity.{bucketOf, NumTables}
    val idx = Similarity.index(embeddings)
    // Every row carries ALL its table buckets so the first-matching-table
    // filter needs no recomputation on the joined pairs.
    val bk = idx.withColumn("bks",
      array((0 until NumTables).map(t => bucketOf(col("v"), t)): _*))
    val side = bk.select(col("vec_id"), col("v"), col("nrm"), col("bks"),
        explode(sequence(lit(0), lit(NumTables - 1))).as("t"))
      .withColumn("bucket", element_at(col("bks"), col("t") + 1))
    val joined = side.as("x").join(side.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"), col("x.t").as("t"),
        zip_with(col("x.bks"), col("y.bks"), (xb, yb) => xb === yb).as("m"),
        floor(VectorOps.dot(col("x.v"), col("y.v")) * 1000 /
          (col("x.nrm") * col("y.nrm"))).cast("long").as("cos_x1000"))
    joined
      .filter(array_position(col("m"), lit(true)) - 1 === col("t"))
      .filter(col("cos_x1000") >= threshold)
      .select(col("a"), col("b"), col("cos_x1000"))
  }
}
