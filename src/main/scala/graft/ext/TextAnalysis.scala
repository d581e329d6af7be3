package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextHash

/** Text-analysis operators for large-scale training-data pipelines (SURVEY
  * §7.6): token counting, quality scoring, language ID, fingerprinting —
  * all single-pass, codegen-friendly column expressions (no UDFs, no
  * shuffles; every operator here is embarrassingly parallel over documents).
  *
  * Determinism contract: every function is reproducible in ANSI-ish SQL so
  * the DuckDB oracle can hash-match it — ratios use pure *integer* arithmetic
  * (`x * 1000 DIV y`), never floating division.
  */
object TextAnalysis {

  import graft.functions.IntMath.idiv
  import graft.functions.{TextStats, TextStatsExpr}
  import org.apache.spark.sql.graft.bridge

  /** Every per-document counter in one fused scan ([[TextStats]]): a struct
    * of 10 longs. All column functions below derive from this; identical
    * `stats(text)` instances in one projection are deduplicated by Catalyst
    * subexpression elimination, so the scan runs once per row however many
    * facets a query reads.
    */
  def stats(text: Column): Column =
    bridge.toColumn(TextStatsExpr(bridge.toExpression(text)))

  /** Whitespace token count (== `size(split(trim(s), "\s+"))`, blank → 0). */
  def wsTokenCount(text: Column): Column = stats(text).getField("ws_tokens")

  /** BPE-ish subword count: greedy ≤4-char letter chunks, single digits,
    * and one token per non-alphanumeric mark — a stand-in for a real
    * byte-pair vocabulary (same token-growth shape: ~len/4 per long word).
    * Replayed by the oracle as the regex `[a-z]{1,4}|[0-9]|[^a-z0-9\s]`.
    */
  def bpeishTokenCount(text: Column): Column = stats(text).getField("bpe")

  // ---- real BPE subword tokenization (merges-table greedy; see Bpe doc)

  import graft.functions.{Bpe, BpeCountExpr, BpeTokensExpr}

  /** REAL BPE subword token count of a document under `table` — the count
    * training pipelines budget on (packing, corpus mixing, chunking), as
    * opposed to [[bpeishTokenCount]]'s regex approximation. Codegen'd
    * single static call; per-thread word memo makes zipfian corpora
    * amortize to a hash probe per word.
    */
  def bpeTokenCount(text: Column, table: Bpe.Table = Bpe.Default): Column =
    bridge.toColumn(BpeCountExpr(bridge.toExpression(text), table))

  /** The ordered BPE token stream (words subword-split, one token per
    * non-whitespace symbol) — for token-budget chunking.
    */
  def bpeTokens(text: Column, table: Bpe.Table = Bpe.Default): Column =
    bridge.toColumn(BpeTokensExpr(bridge.toExpression(text), table))

  /** Train a BPE merges table on a corpus — the distributed half of
    * [[Bpe.train]]: ONE shuffle (word → count), a bounded top-`maxWords`
    * histogram collected to the driver (deterministic order: count desc,
    * word asc), then the in-memory merge loop. This is the
    * sentencepiece/subword-nmt architecture: at 100 TB the corpus pass is
    * a map + one aggregation; the merge loop's cost depends only on the
    * (capped) vocabulary, never the corpus size. Rare words dropped by the
    * cap only lose pair counts that could not have won a merge anyway
    * (bounded by the cap's tail mass).
    */
  def trainBpe(docs: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 1 << 20): Bpe.Table = {
    val wf = docs
      .select(explode(expr(
        s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    Bpe.Table(Bpe.train(wf, numMerges))
  }

  /** Quality facets, integer-scaled (‰ and ×100) for oracle stability:
    * punct per 1000 chars, stop words per 1000 tokens, average token length
    * ×100. `DIV` (integer division) keeps every value exact. `st` is the
    * fused [[stats]] struct.
    */
  def qualityFacetsFrom(st: Column): Seq[(String, Column)] = {
    val nChars = st.getField("chars")
    val nTokens = st.getField("ws_tokens")
    val nonSpace = st.getField("nonspace")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "punct_per_1000" ->
        when(nChars === 0, lit(0L)).otherwise(idiv(st.getField("punct") * 1000L, nChars)),
      "stop_per_1000" ->
        when(nTokens === 0, lit(0L)).otherwise(idiv(st.getField("stop") * 1000L, nTokens)),
      "avg_tok_x100" ->
        when(nTokens === 0, lit(0L)).otherwise(idiv(nonSpace * 100L, nTokens)))
  }

  /** Scalar quality score in [0, 1000]: full marks need enough tokens,
    * mid-range word lengths, some stop-word mass, little punctuation. A
    * deterministic, cheap analog of fastText-style quality filters.
    */
  def qualityScoreFrom(st: Column): Column = {
    val f = qualityFacetsFrom(st).toMap
    val lengthPts = least(f("n_tokens").cast("long"), lit(250L)) // up to 250
    val stopPts = least(f("stop_per_1000"), lit(250L)) // up to 250
    val punctPts = greatest(lit(0L), lit(250L) - f("punct_per_1000")) // up to 250
    val avgPts = greatest(lit(0L),
      lit(250L) - idiv(abs(f("avg_tok_x100") - lit(450L)), lit(2L))) // peak at 4.5 chars
    (lengthPts + stopPts + punctPts + avgPts).cast("long")
  }

  /** Language-ID: marker-word n-gram heuristic. Scores = marker hits per
    * language; prediction = arg-max with a fixed tie order (en, de, es, fr),
    * `unknown` when nothing matches. Real pipelines use fastText; the scoring
    * *shape* (per-language evidence, arg-max, abstain on zero) is the same.
    */
  val LangMarkers: Seq[String] = Seq("en", "de", "es", "fr")

  def langScoresFrom(st: Column): Seq[(String, Column)] =
    LangMarkers.map(lang => s"score_$lang" -> st.getField(lang))

  def langPredict(scores: Seq[(String, Column)]): Column = {
    val top = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("unknown")) { case ((name, s), elseCol) =>
      when(top > 0 && s === top, lit(name.stripPrefix("score_"))).otherwise(elseCol)
    }
  }

  /** Document fingerprint: rolling polynomial hash of the full text
    * (single-pass codegen expression, [[graft.functions.PolyHashExpr]]).
    */
  def fingerprint(text: Column): Column = TextHash.polyHash(text)

  // ------------------------------------------------------------- queries

  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), stats(col("text")).as("_st"))
      .select(
        col("doc_id"),
        col("_st.ws_tokens").as("ws_tokens"),
        col("_st.bpe").as("bpe_tokens"),
        col("_st.punct").as("punct_chars"))

  def quality(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), stats(col("text")).as("_st"))
      .select((col("doc_id") +:
        qualityFacetsFrom(col("_st")).map { case (n, c) => c.cast("long").as(n) } :+
        qualityScoreFrom(col("_st")).as("quality")): _*)

  def langId(docs: DataFrame): DataFrame = {
    val scores = langScoresFrom(col("_st"))
    docs.select(col("doc_id"), stats(col("text")).as("_st"))
      .select(
        (col("doc_id") +: scores.map { case (n, c) => c.as(n) }
          :+ langPredict(scores).as("lang_pred")): _*)
  }

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** PII redaction rules: (pattern, replacement) in APPLICATION ORDER — the
    * specific shapes (email, phone, IPv4) must fire before the generic long
    * digit-run rule swallows their digits. Patterns stay in the
    * Java-regex ∩ RE2 common dialect (classes, bounded repeats, `\b`, `\d`)
    * so the DuckDB oracle replays them verbatim.
    */
  val PiiRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\+?\\d{1,2}-\\d{3}-\\d{4}" -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\d{6,}" -> "<NUM>")

  /** Scrub PII-shaped substrings from free text — the compliance pass every
    * training-data pipeline runs before a corpus leaves quarantine. A chain
    * of codegen'd `regexp_replace`s (global, like HBase-era scrubbers were
    * not): map-only, no shuffle, scales linearly with the scan.
    */
  def redactPii(text: Column): Column =
    PiiRules.foldLeft(text) { case (c, (pat, rep)) => regexp_replace(c, pat, rep) }

  /** Per-document top-k terms by tf-idf, in EXACT integer arithmetic:
    * `score = tf · ((N·1000) div df)` — the idf is an integer-scaled
    * reciprocal document frequency instead of a float log, so a SQL oracle
    * replays every score bit-exactly and ranking ties (score, then term)
    * are deterministic. Same signal shape as classic tf-idf keyword
    * extraction; only the idf curve differs.
    *
    * Plan: one (doc, term) count (partial-agg'd explode), one term-keyed
    * df count OVER THE TF RELATION (already one row per doc-term — no
    * second pass over raw text), a broadcast of the single-row corpus
    * count, and a per-doc top-k window. Text crosses the wire once, as
    * exploded terms. The df side is broadcast EXPLICITLY: it is
    * vocabulary-sized (heavy-tailed, orders of magnitude smaller than the
    * doc-term relation) and without the hint a cold run without AQE stats
    * would sort-merge — re-shuffling the whole tf relation on term a
    * second time. A vocabulary too large to broadcast is the signal to
    * df-filter it first (as topTermsSketch does), not to shuffle twice.
    */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val live = docs.filter(length(trim(col("text"))) > 0)
    val tf = live
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = live.agg(count(lit(1)).as("_n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
      .withColumn("score", col("tf") * expr("_n * 1000 DIV df"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"),
        col("score").cast("long").as("score"), col("rk"))
  }

  /** Gopher/C4-style hard-rule document gate: each doc gets keep=true or the
    * FIRST failing rule's name (fixed rule order ⇒ deterministic reason).
    * All facets come from the one fused [[TextStatsExpr]] scan — the gate is
    * a map-only filter, the cheapest possible shape for the first pass of a
    * 100-TB cleaning pipeline (everything downstream sees only survivors).
    */
  def qualityFilter(docs: DataFrame): DataFrame = {
    val st = docs.select(col("doc_id"), stats(col("text")).as("_st"))
    val f = qualityFacetsFrom(col("_st")).toMap
    val reason = when(f("n_tokens") < 5, lit("too_short"))
      .when(f("n_tokens") > 10000, lit("too_long"))
      .when(f("avg_tok_x100") < 150 || f("avg_tok_x100") > 1000, lit("bad_word_len"))
      .when(f("punct_per_1000") > 300, lit("too_much_punct"))
      .when(f("stop_per_1000") < 10, lit("no_stopwords"))
      .otherwise(lit("ok"))
    st.select(col("doc_id"),
      f("n_tokens").cast("long").as("n_tokens"),
      f("avg_tok_x100").cast("long").as("avg_tok_x100"),
      f("punct_per_1000").cast("long").as("punct_per_1000"),
      f("stop_per_1000").cast("long").as("stop_per_1000"),
      reason.as("reason"),
      (reason === "ok").as("keep"))
  }

  /** Per-language top-k terms by document frequency — the corpus-statistics
    * pass of a training-data pipeline (vocabulary building, boilerplate
    * spotting). One distinct-terms explode, one (lang, term) count
    * aggregate, then a per-language top-k window; the window's partition is
    * the handful of languages, so the rank step is cheap — the heavy lifting
    * stays in the partial-aggregated count. Ties rank lexicographically for
    * determinism.
    */
  def topTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("lang"), col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("term"))
    val dfreq = terms.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("lang")).orderBy(col("df").desc, col("term"))
    dfreq.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }
}
