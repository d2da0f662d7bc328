package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis expressions for training-data pipelines: token counting,
  * quality scoring, language-ID heuristics, document fingerprints.
  * (Extension surface beyond the reference.)
  *
  * The document metrics ([[tokenCount]] through [[langGuess]]) divide
  * integer counts from three codegen'd kernels
  * ([[graft.functions.TextStats]]): `text_stats(text)` counts characters
  * and tokens in one pass, `text_stopwords(lower(text))` counts stopwords
  * and `text_lexicon(lower(text))` language markers. Each metric is the
  * same Column arithmetic (casts, divisions, rounding) over those counts
  * that it was over the regex/split/translate builtins the counts replace,
  * so every value is bit-identical to that composition and the whole
  * projection stays inside whole-stage codegen. A query that needs several
  * metrics selects [[textStats]], [[stopwordCount]] and [[textLexicon]]
  * once and reads them through [[Metrics]], so each kernel runs once per
  * row. The per-metric functions below build their own kernel calls, and
  * only the ones they read: [[tokenCount]] runs no `lower` and no word
  * matching, [[stopwordRatio]] no marker scan.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** The one-pass counts of `text`: a struct of `n_chars`, `n_space`,
    * `n_punct`, `n_digit`, `n_tokens` and `n_bpe`; null for null text. */
  def textStats(text: Column): Column = call_function("text_stats", text)

  /** The English stopwords among the whitespace tokens of `lower(text)`;
    * null for null text. */
  def stopwordCount(text: Column): Column = call_function("text_stopwords", lower(text))

  /** The marker matches of `lower(text)`: a struct of `hits_en`, `hits_de`,
    * `hits_fr`, `hits_es` and `has_zh`; null for null text. */
  def textLexicon(text: Column): Column = call_function("text_lexicon", lower(text))

  /** What `size` returns for a null array under the session's conf: -1
    * with legacy sizeOfNull (the engine's ANSI-off default), else null.
    * The builtin compositions gave null text that value through `size`. */
  private val sizeOfNull: Column = size(lit(null).cast("array<string>"))

  /** The document metrics over a [[textStats]] struct column `st`, a
    * [[stopwordCount]] column `nStop` and a [[textLexicon]] struct column
    * `lex` of the same text. */
  final case class Metrics(st: Column, nStop: Column, lex: Column) {
    private def sized(field: Column): Column = coalesce(field, sizeOfNull)
    private def nChars: Column = st("n_chars")

    def tokenCount: Column = sized(st("n_tokens"))

    /** BPE-ish subword proxy: word pieces + standalone punctuation (the
      * usual `\w+|[^\w\s]` pre-tokenizer shape). */
    def bpeTokenCount: Column = st("n_bpe")

    /** Non-whitespace characters (the Java regex \s class) per token. */
    def avgTokenLen: Column =
      (nChars - st("n_space")).cast("double") / tokenCount

    def punctRatio: Column =
      st("n_punct").cast("double") / greatest(nChars, lit(1))

    def digitRatio: Column =
      st("n_digit").cast("double") / greatest(nChars, lit(1))

    /** Fraction of tokens that are (English) stopwords — a fluency signal. */
    def stopwordRatio: Column =
      sized(nStop).cast("double") / greatest(tokenCount, lit(1))

    /** Composite quality score in [0,1]: length-normalized, penalizes
      * punctuation/digit noise, rewards stopword fluency. The exact weights
      * are a policy choice; determinism is the requirement. */
    def qualityScore: Column = {
      val lenScore = least(nChars.cast("double") / 400.0, lit(1.0))
      val fluency = least(stopwordRatio * 5.0, lit(1.0))
      val noise = punctRatio + digitRatio
      greatest(lit(0.0), least(lit(1.0),
        lenScore * 0.4 + fluency * 0.4 + (lit(0.2) - least(noise, lit(0.2)))))
    }

    /** N-gram-frequency language-ID heuristic: scores per-language marker
      * sets (the distinct markers found as whole words) and takes the
      * argmax, 'und' when nothing matches. */
    def langGuess: Column = {
      val en = sized(lex("hits_en"))
      val de = sized(lex("hits_de"))
      val fr = sized(lex("hits_fr"))
      val es = sized(lex("hits_es"))
      val zh = when(lex("has_zh"), 5).otherwise(0)
      when(greatest(en, de, fr, es, zh) === 0, "und")
        .when(zh >= greatest(en, de, fr, es), "zh")
        .when(de > greatest(en, fr, es), "de")
        .when(fr > greatest(en, es), "fr")
        .when(es > en, "es")
        .otherwise("en")
    }
  }

  private def metrics(text: Column): Metrics =
    Metrics(textStats(text), stopwordCount(text), textLexicon(text))

  def tokenCount(text: Column): Column = metrics(text).tokenCount
  def bpeTokenCount(text: Column): Column = metrics(text).bpeTokenCount
  def avgTokenLen(text: Column): Column = metrics(text).avgTokenLen
  def punctRatio(text: Column): Column = metrics(text).punctRatio
  def digitRatio(text: Column): Column = metrics(text).digitRatio
  def stopwordRatio(text: Column): Column = metrics(text).stopwordRatio
  def qualityScore(text: Column): Column = metrics(text).qualityScore
  def langGuess(text: Column): Column = metrics(text).langGuess

  /** 64-bit document fingerprint: FNV over the normalized token stream
    * (whitespace-collapsed lowercase) — a rolling-hash-style content id
    * that ignores formatting noise. */
  def fingerprint64(text: Column): Column =
    call_function("fnv_hash", regexp_replace(lower(trim(text)), "\\s+", " "))

  /** SimHash-64: per-bit majority vote of token-hash bits, weighted by
    * token frequency — near-identical texts land within a few bits.
    * Token hashes are materialized ONCE (`transform` → array<long>), then
    * the 64 bit-votes fold over the precomputed longs; hashing per bit
    * would cost 64× the string hashing for the same result. */
  def simhash64(text: Column): Column = {
    val tokHashes = transform(tokens(lower(text)), t => xxhash64(t))
    val bits = (0 until 64).map { b =>
      val vote = aggregate(tokHashes, lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(vote >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Hamming distance between two 16-hex-char (64-bit) fingerprints —
    * the portable-form counterpart of [[hamming64]]: 16 nibble-wise
    * conv/xor/bit_count terms, all codegen'd builtins (no UDF), so the
    * verify filter of a simhash dedup pass stays inside whole-stage
    * codegen. */
  def hammingHex64(a: Column, b: Column): Column =
    (0 until 16).map { j =>
      val na = conv(substring(a, j + 1, 1), 16, 10).cast("int")
      val nb = conv(substring(b, j + 1, 1), 16, 10).cast("int")
      bit_count(na.bitwiseXOR(nb))
    }.reduce(_ + _)

  /** The two 32-bit halves of a 16-hex-digit fingerprint as longs:
    * (high, low). Splitting dodges the 64-bit overflow (ffff… exceeds
    * Long.MaxValue through conv's decimal-string route) and makes pair
    * hamming two xor+popcounts on carried longs — [[hammingHex64]]'s 16
    * substring+conv string conversions per PAIR are fine on verified
    * survivors but dominate wall-clock when evaluated on a banded
    * candidate stream (measured 4x the whole kernel's cost at sf3 on
    * the r10 distinct-corpus soak). Convert once per SIDE, compare
    * cheaply per pair. */
  def hexHalves(h: Column): (Column, Column) =
    (conv(substring(h, 1, 8), 16, 10).cast("long"),
      conv(substring(h, 9, 8), 16, 10).cast("long"))

  /** Hamming distance from pre-split halves ([[hexHalves]]): pure
    * integer codegen, no string work in the pair loop. */
  def hammingHalves(hiA: Column, loA: Column, hiB: Column, loB: Column): Column =
    bit_count(hiA.bitwiseXOR(hiB)) + bit_count(loA.bitwiseXOR(loB))

  /** The full 64-bit fingerprint packed into ONE signed long —
    * `(hi << 32) | lo` over [[hexHalves]] — a bijection of the 16-hex-char
    * form (the sign bit is just bit 63). Pair hamming collapses to a
    * single xor+popcount (`bit_count(a ^ b)` ≡ [[hammingHalves]], the
    * halves being disjoint bit ranges), and the slim long replaces the
    * 16-char string on every banding shuffle and join key. Convert once
    * per side, compare in one instruction per pair. */
  def hexPacked(h: Column): Column = {
    val (hi, lo) = hexHalves(h)
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** Scrub URLs and email addresses from text (the standard PII/dedup
    * normalization pass before training). Patterns are deliberately
    * conservative — valid and identically interpreted under both Java
    * regex (Spark) and RE2 (the usual external oracle), so the pass is
    * cross-engine deterministic. Codegen'd regexp_replace: one streaming
    * scan, no shuffle. */
  def scrub(text: Column, replacement: String = "<scrubbed>"): Column = {
    val noUrl = regexp_replace(text, "https?://[^\\s]+", replacement)
    regexp_replace(noUrl, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", replacement)
  }

  /** Deterministic content-hash sampling: keep a document iff the leading
    * hex byte of md5(text) falls under `hexThreshold` (two lowercase hex
    * chars, e.g. "14" keeps ~20/256 ≈ 7.8%). String comparison on the hex
    * prefix is engine-neutral (md5 is standardized, lexicographic compare
    * on [0-9a-f] is unambiguous), so the SAME sample comes out of any
    * engine — the property that makes pipeline reruns and cross-system
    * audits reproducible, unlike rand()-based sampling. Embarrassingly
    * parallel: a codegen'd filter on the scan, no shuffle. */
  def sampleByFingerprint(text: Column, hexThreshold: String): Column =
    substring(md5(text), 1, 2) < hexThreshold

  /** Stratified variant: per-stratum keep-rates (corpus rebalancing, e.g.
    * downsampling an over-represented language). `rates` maps stratum
    * value → two-char hex threshold; strata absent from the map keep
    * nothing. Same engine-neutral md5 mechanics as
    * [[sampleByFingerprint]], still a pure scan-level filter: the rate
    * lookup compiles to a CASE chain, no join, no shuffle. */
  def sampleStratified(text: Column, stratum: Column, rates: Map[String, String]): Column = {
    val threshold = rates.foldLeft(lit("00")) { case (acc, (k, v)) =>
      when(stratum === k, lit(v)).otherwise(acc)
    }
    substring(md5(text), 1, 2) < threshold
  }

  /** Per-stratum quantile filtering (the corpus quality-cutoff pass:
    * "keep documents above the per-language median quality"). Cutoffs are
    * EXACT percentiles (Spark `percentile`, linear interpolation — the
    * same definition as SQL percentile_cont), computed per stratum and
    * joined back as a broadcast: the big side streams through a scan +
    * broadcast-hash-join + filter, and only the tiny per-stratum
    * aggregate shuffles. Strict `>` keeps the above-cutoff rows. */
  def keepAboveQuantile(df: org.apache.spark.sql.DataFrame, valueCol: String,
      stratumCol: String, q: Double): org.apache.spark.sql.DataFrame = {
    require(q > 0 && q < 1, s"quantile must be in (0,1), got $q")
    val cutoffs = df.groupBy(col(stratumCol))
      .agg(expr(s"percentile($valueCol, $q)").as("__cutoff"))
    df.join(broadcast(cutoffs), Seq(stratumCol))
      .filter(col(valueCol) > col("__cutoff"))
      .drop("__cutoff")
  }

  /** Weighted dataset mixing (the pretraining-mix pass): each stratum
    * (source/language/domain) is replicated toward its target weight —
    * `floor(w)` full copies plus one fractional copy kept iff an md5 draw
    * on the content falls under `frac(w)`. Weight 2.5 means every doc
    * appears twice and half of them (deterministically, by content hash)
    * a third time; weight 0.3 keeps ~30%. No RNG: reruns and other
    * engines reproduce the exact same mixed corpus, which is what makes a
    * training mix auditable.
    *
    * The fractional threshold quantizes to 16 bits (4 hex chars,
    * `floor(frac * 65536)`), so rates are exact to ~1.5e-5 — far below
    * corpus sampling noise.
    *
    * Scale: pure scan + explode, no shuffle, no driver state; the output
    * carries `copy_id` (0 = the fractional draw, 1..floor(w) = full
    * copies) so downstream packing can keep copies apart. Strata absent
    * from `weights` are dropped (weight 0). */
  def mixByWeight(docs: org.apache.spark.sql.DataFrame, textCol: String,
      stratumCol: String, weights: Map[String, Double]): org.apache.spark.sql.DataFrame = {
    require(weights.values.forall(w => w >= 0 && w < 100), "weights must be in [0, 100)")
    val copies = weights.foldLeft(lit(0)) { case (acc, (k, w)) =>
      when(col(stratumCol) === k, lit(w.toInt)).otherwise(acc)
    }
    val fracHex = weights.foldLeft(lit("0000")) { case (acc, (k, w)) =>
      when(col(stratumCol) === k, lit(fracThresholdHex(w))).otherwise(acc)
    }
    docs
      .withColumn("copy_id", explode(sequence(lit(0), copies)))
      .filter(col("copy_id") >= 1 ||
        substring(md5(concat(lit("mix|"), col(textCol))), 1, 4) < fracHex)
  }

  /** 4-hex-char acceptance threshold for the fractional part of a mix
    * weight (shared by the Spark path and generated oracle SQL). */
  def fracThresholdHex(weight: Double): String =
    f"${((weight - weight.toInt) * 65536).toInt}%04x"

  /** Vocabulary: top-k whitespace/punctuation-split tokens by frequency
    * (tie-break on the token) — the corpus-statistics pass behind BPE
    * training and frequency filtering. Plans as explode → hash-agg with
    * map-side partials → TakeOrderedAndProject: the shuffle carries one
    * (token, partial-count) pair per distinct token per partition, and
    * top-k never materializes a full sort at the driver. */
  /** The one tokenizer both vocabulary paths share — [[vocabularyCertified]]
    * certifies equality with [[vocabulary]], which is only meaningful if
    * they tokenize identically. */
  private def tokenStream(docs: org.apache.spark.sql.DataFrame, textCol: String) =
    docs.select(explode(split(lower(col(textCol)), "[^a-z0-9']+")).as("token"))
      .filter(length(col("token")) > 0)

  def vocabulary(docs: org.apache.spark.sql.DataFrame, textCol: String, k: Int): org.apache.spark.sql.DataFrame =
    tokenStream(docs, textCol)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)

  /** Exact vocabulary top-k through a bounded Misra-Gries sketch — the
    * scale path for [[vocabulary]]. Two passes over the token stream:
    * (1) a capacity-m `heavy_hitters` summary plus the exact token count
    * N (single-group aggregate: one bounded map per task, the exchange
    * carries tasks × m rows — never the distinct-token universe);
    * (2) an exact re-count of JUST the ≤ m candidates behind a broadcast
    * join, so the second exchange carries ≤ m keys per task.
    *
    * The output is certified exact at runtime, not trusted: with
    * eps = (N − Σ retained est)/(m+1) — the largest true frequency a
    * token ABSENT from the summary can have (MG containment bound) — the
    * result is provably the true top-k iff
    *
    *   eps == 0                      (no decrement ever happened: the
    *                                  summary IS the exact universe), or
    *   k rows returned AND min(freq) > eps   (every returned count beats
    *                                  anything a non-candidate could hide).
    *
    * The certification rides the plan as two row-preserving
    * `filter(coalesce(assert_true(...), true))` guards (assert_true is
    * NULL — kept by the coalesce — when the predicate holds, and throws
    * when it doesn't): one on the 1-row summary aggregate (the only place
    * an EMPTY candidate front is visible — a per-row assert would
    * vacuously pass on rows that don't exist, precisely the near-uniform
    * regime where MG merges legitimately cancel to an empty summary) and
    * one on every returned front row. Certifiable runs pass through
    * unchanged; uncertifiable runs fail the query instead of returning a
    * silently short or skewed top-k. */
  def vocabularyCertified(docs: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int, m: Int): org.apache.spark.sql.DataFrame = {
    // no m >= k requirement: the certification is sound for any m > 0
    // (an undersized m simply can't certify and fails loud)
    require(k > 0 && m > 0, s"need positive k and m, got k=$k m=$m")
    val tokens = tokenStream(docs, textCol)
    val summary = tokens.agg(
        call_function("heavy_hitters", col("token"), lit(m)).as("hh"),
        count(lit(1)).as("n"))
      .select(
        col("hh"),
        ((col("n") - aggregate(col("hh"), lit(0L), (acc, s) => acc + s.getField("est")))
          / (m + 1.0)).as("eps"))
    val msg = lit("heavy_hitters capacity too small to certify exact top-k")
    // Certification splits across the two rows that ALWAYS exist where
    // they're needed (assert_true is NULL when the predicate holds, so
    // coalesce(..., true) keeps the row; a violated predicate throws):
    //  - the 1-row summary asserts eps == 0 OR ≥ k candidates BEFORE the
    //    explode — this is the only place the empty/short-candidate
    //    regime is visible (MG merges legitimately cancel to an empty
    //    summary on near-uniform streams; a per-row assert on the front
    //    would vacuously pass on rows that don't exist — caught under
    //    local-cluster, where 32 partial buffers produced exactly that),
    //  - every front row asserts freq > eps — and when eps > 0 the front
    //    has exactly k rows (each of the ≥ k candidates came from the
    //    stream, so the join yields ≥ k groups), so "all k beat anything
    //    a non-candidate could hide" is fully checked row-by-row.
    val cands = summary
      .filter(coalesce(assert_true(
        col("eps") === 0.0 || size(col("hh")) >= k, msg), lit(true)))
      .select(explode(col("hh")).as("s"), col("eps"))
      .select(col("s.item").as("token"), col("eps"))
    tokens.join(broadcast(cands), Seq("token"), "inner")
      .groupBy(col("token"), col("eps"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)
      .filter(coalesce(assert_true(
        col("eps") === 0.0 || col("freq") > col("eps"), msg), lit(true)))
      .select(col("token"), col("freq"))
  }

  /** Budgeted contiguous packing (the step after chunking: assign chunks
    * to fixed-token-budget training batches). Within each partition group,
    * rows are taken in `order` and batch k covers the rows whose EXCLUSIVE
    * running token total lies in [k*budget, (k+1)*budget) — i.e. batch
    * boundaries fall where the cumulative count crosses a budget multiple,
    * so a batch may overflow by at most one chunk (the standard streaming
    * packer, and — unlike greedy bin packing — expressible as ONE window
    * prefix-sum, deterministic, and engine-neutral). Plans as a single
    * shuffle on the partition keys + in-partition running sum; no
    * driver-side loop, no second pass. */
  def packByBudget(df: org.apache.spark.sql.DataFrame, tokenCol: String,
      partitionCols: Seq[String], orderCols: Seq[String], budget: Int): org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(tokenCol)).over(w))
      .withColumn("batch_id",
        floor((col("__cum") - col(tokenCol)).cast("double") / budget).cast("long"))
      .drop("__cum")
  }

  /** Fixed-size token chunking with overlap (context-window packing for
    * training): split into whitespace tokens, emit windows of `chunkSize`
    * tokens advancing by `chunkSize - overlap`. The window starts come from a
    * per-row `sequence` + explode — pure codegen, no shuffle, and chunk
    * text is re-assembled with slice + array_join so token bytes are
    * never copied more than the overlap factor requires. */
  def chunk(docs: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      chunkSize: Int, overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val step = chunkSize - overlap
    val toks = tokens(col(textCol))
    docs
      .select(col(idCol).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          greatest(ceil((size(col("toks")) - chunkSize).cast("double") / step), lit(0)).cast("int"),
          lit(1))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        array_join(slice(col("toks"), col("chunk_id") * step + 1, lit(chunkSize)), " ").as("chunk"))
  }

  private val hexDigits = "0123456789abcdef"

  /** Portable 64-bit content fingerprint: leading 16 hex chars of md5 over
    * the whitespace-normalized lowercase text. Same normalization as
    * [[fingerprint64]] but built on md5, which every engine computes
    * identically — the form to use when the fingerprint must be
    * re-derivable outside Spark (cross-engine audits, oracle checks).
    * The fnv form stays the production default: a single codegen'd long,
    * no 32-char string per row. */
  def fingerprintHex(text: Column): Column =
    substring(md5(regexp_replace(lower(trim(text)), "\\s+", " ")), 1, 16)

  /** Portable SimHash-64 over md5 token hashes, emitted as a 16-char hex
    * string: bit b of the fingerprint is the majority vote of bit b across
    * the tokens' md5-derived 64-bit hashes (first 16 hex chars, each hex
    * digit contributing its 4 bits MSB-first). Identical simhash semantics
    * to [[simhashTable]]; the hash family is md5 so ANY engine can
    * reproduce the value byte-for-byte (xxhash64 exists only in Spark).
    * Hex-string output sidesteps signed-long representation differences.
    *
    * Plans exactly like [[simhashTable]]: explode → one md5 per token →
    * 64 codegen'd SUM votes with map-side partials → 16-char reassembly.
    * The extra cost over the xxhash form is the md5 (16 bytes vs 8) and
    * the digit-value projection — still one scan, one hash-agg, no
    * shuffle beyond the groupBy. */
  def simhashHexTable(docs: org.apache.spark.sql.DataFrame, textCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val hashed = docs
      .select(col(idCol).as("doc_id"), explode(toks).as("tok"))
      .withColumn("h", md5(col("tok")))
    // materialize the 16 hex-digit values once; each digit feeds 4 bit-votes
    val withVals = hashed.select(
      col("doc_id") +: (0 until 16).map(j =>
        (expr(s"instr('$hexDigits', substring(h, ${j + 1}, 1))") - 1).as(s"hv$j")): _*)
    val votes = (0 until 64).map { b =>
      val j = b / 4            // hex char index (0-based)
      val k = 3 - (b % 4)      // bit within the digit, MSB-first
      sum(when(shiftright(col(s"hv$j"), k).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val agged = withVals.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val outDigits = (0 until 16).map { j =>
      val v = (0 until 4).map { m =>
        when(col(s"v${j * 4 + m}") >= 0, 1 << (3 - m)).otherwise(0)
      }.reduce(_ + _)
      lit(hexDigits).substr(v + 1, lit(1))
    }
    agged.select(col("doc_id"), concat(outDigits: _*).as("simhash_hex"))
  }

  /** Per-document repetition metrics (the Gopher-style repetition quality
    * filters): documents dominated by repeated lines or by one n-gram are
    * low-quality machine/boilerplate text and get filtered before
    * training.
    *
    *  - `dup_line_frac`: fraction of lines that are repeats of an earlier
    *    line (1 - distinct/total)
    *  - `dup_line_char_frac`: fraction of line characters sitting in
    *    those repeated occurrences
    *  - `top_2gram_frac`: token coverage of the single most frequent word
    *    2-gram (2 * max-count / n_tokens; can exceed 1 on degenerate
    *    docs, which is exactly the signal)
    *
    * Scale shape: two independent explode → per-(doc,unit) hash-agg →
    * per-doc agg pipelines (lines and 2-grams), joined on doc_id. All
    * shuffles carry slim (doc_id, unit-hash) or per-doc rows; map-side
    * partial aggregation applies throughout; no window functions.
    *
    * @return (doc_id, n_lines, dup_line_frac, dup_line_char_frac,
    *         top_2gram_frac) — one row per input doc. */
  def repetitionMetrics(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n")).as("line"))
    val perLine = lines.groupBy(col("doc_id"), col("line"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("len", length(col("line")))
    val lineStats = perLine.groupBy(col("doc_id")).agg(
      sum(col("cnt")).as("n_lines"),
      ((sum(col("cnt")) - count(lit(1))).cast("double") / sum(col("cnt")))
        .as("dup_line_frac"),
      (sum((col("cnt") - 1) * col("len")).cast("double") /
        greatest(sum(col("cnt") * col("len")), lit(1L))).as("dup_line_char_frac"))
    val gramTop = Dedup.shingleTable(docs, textCol, idCol, n = 2)
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id")).agg(max(col("cnt")).as("top2"))
    val toks = docs.select(col(idCol).as("doc_id"),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    lineStats.join(gramTop, Seq("doc_id")).join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("n_lines"),
        col("dup_line_frac"), col("dup_line_char_frac"),
        (col("top2") * 2.0 / greatest(col("n_tokens"), lit(1L))).as("top_2gram_frac"))
  }

  /** Bulk simhash as a relational plan: token explode → codegen'd hash-agg
    * of 64 bit-votes → bit-pack. Same result as [[simhash64]] but the
    * per-token loop runs inside whole-stage codegen with map-side partial
    * aggregation (the Column form's higher-order functions evaluate
    * interpreted — fine for a few rows, wrong for a corpus scan). */
  def simhashTable(docs: org.apache.spark.sql.DataFrame, textCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val hashed = docs
      .select(col(idCol).as("doc_id"), explode(toks).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b"))
    hashed.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b => when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }
}
