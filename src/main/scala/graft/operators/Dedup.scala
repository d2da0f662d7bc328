package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for large-scale training-data pipelines.
  * (Extension surface beyond the reference — BASELINE north star; the
  * reference's only related machinery is DISTINCT aggregation.)
  *
  * Scale design: both operators are shuffle-by-key, never all-pairs.
  *  - exact: one hash-groupBy on the content fingerprint — the same plan
  *    shape as a distinct aggregation; survives any corpus size.
  *  - minhash: LSH banding — candidates are generated by an equi-join on
  *    band keys (shuffle co-partitions the buckets), then only candidate
  *    pairs pay the exact-jaccard verification. A corpus with no near-dups
  *    does ~zero pair work; hot buckets are bounded by a per-bucket cap.
  */
object Dedup {

  /** Content fingerprint used for exact dedup (md5 of raw text — mirrors
    * what any content-addressed pipeline stores). */
  def fingerprint(text: Column): Column = md5(text)

  /** Exact dedup: keep the lowest-id row per distinct content. Returns the
    * fingerprint table (fp, survivor id, copy count). */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(
        min(col(idCol)).as("survivor_id"),
        count(lit(1)).as("n_copies"))

  /** Exact dedup as a row filter: the deduplicated corpus itself. */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.join(
      exactGroups(docs, textCol, idCol).select(col("survivor_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Word n-gram shingle set of a text column (lowercased, distinct).
    * Column-level form for compositional use; the bulk path below uses the
    * relational [[shingleTable]] instead (higher-order functions evaluate
    * interpreted, outside whole-stage codegen). */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
  }

  /** (doc_id, shingle) rows — the codegen'd bulk path (same shingles as
    * [[shingles]], duplicates retained; min() signatures are
    * duplicate-insensitive and verification collects sets).
    *
    * Formulation: posexplode the token positions and slice each shingle
    * out of the RETAINED token array with element_at — all codegen'd, and
    * crucially ZERO shuffles/sorts (the earlier windowed-lead version paid
    * a full shuffle + per-doc sort just to see neighboring tokens; the
    * array already has them). */
  def shingleTable(docs: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), greatest(size(col("toks")) - n, lit(0)))).as(Seq("pos", "i")))
      .select(col("doc_id"),
        concat_ws(" ",
          (0 until n).map(j => element_at(col("toks"), col("pos") + j + 1)): _*).as("sh"))
  }

  /** Seeded 64-bit shingle hash: deterministic across runs and engines —
    * no RNG anywhere in the minhash family. */
  private def seededHash(sh: Column, seed: Int): Column =
    xxhash64(concat(lit(s"mh$seed|"), sh))

  /** MinHash-LSH near-duplicate candidates + exact jaccard verification.
    *
    * @param numHashes minhash signature length (bands * rowsPerBand)
    * @param bands     LSH bands; two docs collide if any band matches fully
    * @param threshold exact word-shingle jaccard cutoff for a verified dup
    * @return (id_a, id_b, jaccard) with id_a < id_b, verified pairs only
    */
  def minhashPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.6,
      maxBucket: Int = 1000): DataFrame =
    minhashPairsCore(docs, textCol, idCol, numHashes, bands, threshold, maxBucket,
      shingleHash = seededHash,
      bandHash = (b, sig) => xxhash64((lit(b) +: sig): _*))

  /** [[minhashPairs]] on the md5 hash family: each permutation value is an
    * 8-hex-char (32-bit) slice of a seeded md5, and band keys are md5 of
    * the joined hex slices. Byte-identical to what any engine derives from
    * the same algorithm with stock md5 — the variant to verify against an
    * external oracle.
    *
    * md5 is ~an order of magnitude pricier per call than xxhash64, so the
    * permutation family is budgeted: the shingle is digested ONCE (a
    * projected column, so the aggregate never re-evaluates it), each
    * seeded outer md5 of that digest yields FOUR permutation values as
    * disjoint 8-hex-char (32-bit) slices — 5 md5 calls per shingle for 16
    * permutations instead of 16 full-text ones. 32-bit minhash values tie
    * within a ~250-shingle doc with p≈1.5e-5, and ties are resolved
    * identically (same min) in every engine, so semantics are unchanged.
    * The xxhash64 default stays the production path: 8-byte fixed-width
    * hashes are slimmer still.
    *
    * Signature values ride the aggregate as LONGS, not hex strings (r13,
    * guide §4/§2.3): `conv(slice, 16, 10)` is the 32-bit value of the hex
    * slice, and min() over those non-negative longs selects exactly the
    * min() of the fixed-length lowercase hex strings (same-length hex is
    * order-isomorphic to its value). With every aggregation column
    * fixed-width the signature aggregate plans as a HashAggregate — the
    * hex-string form forced SortAggregate, i.e. TWO per-partition sorts
    * of the full exploded shingle stream per run (the r13 profile
    * measured the fused shingle+hash+partial-sort stages at 0.8–1.7 s
    * each at sf0.1). The band hash re-derives the exact hex text
    * (`lower(lpad(hex(v), 8, '0'))` inverts conv for 32-bit values), so
    * band keys — and therefore candidates, buckets and every output row —
    * are bit-identical to the r2–r12 form and to the external oracle. */
  def minhashPairsPortable(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.6,
      maxBucket: Int = 1000): DataFrame =
    minhashPairsCore(docs, textCol, idCol, numHashes, bands, threshold, maxBucket,
      preHash = sh => md5(sh),
      shingleHash = (shb, i) =>
        conv(substring(md5(concat(lit(s"mh${i / 4}|"), shb)), 1 + 8 * (i % 4), 8),
          16, 10).cast("long"),
      bandHash = (b, sig) => md5(concat_ws("|",
        lit(b.toString) +: sig.map(v => lower(lpad(hex(v), 8, "0"))): _*)))

  private def minhashPairsCore(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int,
      shingleHash: (Column, Int) => Column,
      bandHash: (Int, Seq[Column]) => Column,
      preHash: Column => Column = identity): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    // Stage 1 (full corpus, codegen'd): the window-free shingle stream is
    // a pure scan+explode+project pipeline — no shuffle, no sort — so the
    // two consumers (signature agg here over all docs, candidate-set agg
    // in stage 4 over candidate-pruned docs only)
    // each recompute it rather than share a cache. Deliberate: the r2
    // profile's "2× waste" was two runs of a windowed (shuffle+sort)
    // formulation; recomputing the streaming form costs one extra scan
    // that pipelines straight into each consumer's partial aggregate,
    // while CACHING a corpus-sized exploded stream evicts/spills under
    // storage pressure in long sessions (measured: 4.9s isolated → 17s
    // mid-bench) and would be a memory liability at 100 TB. The two
    // aggregations also stay SEPARATE on purpose: the signature agg is
    // all fixed-width min() columns (pure HashAggregate); folding
    // collect_set into it would drag every doc through
    // ObjectHashAggregate (measured slower than recomputing the stream).
    val shingled = shingleTable(docs, textCol, idCol)

    // preHash materializes the per-shingle content digest as a projected
    // column BEFORE the aggregate: the numHashes min() expressions then
    // reference the cached value instead of re-digesting the shingle text
    // once per permutation.
    val keyed = shingled.select(col("doc_id"), preHash(col("sh")).as("shk"))
    val sigs = keyed
      .groupBy(col("doc_id"))
      .agg(
        min(shingleHash(col("shk"), 0)).as("mh0"),
        (1 until numHashes).map(i => min(shingleHash(col("shk"), i)).as(s"mh$i")): _*)

    // Stage 2: slim (doc_id, band) pairs ONLY — wide shingle data never
    // rides the banding shuffles (at 100 TB it's ~the whole corpus).
    val banded = sigs.select(col("doc_id"), explode(array((0 until bands).map { b =>
      bandHash(b, (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")))
    }: _*)).as("band"))

    // Stage 3: bucket membership + degenerate-bucket cap + candidate
    // pairs, all from ONE aggregation over the slim (doc_id, band) stream.
    //
    // r12 restructure (guide §2.4 — remove shuffles outright): the r2–r11
    // form computed an oversized-band count aggregate, knocked those bands
    // out with a broadcast anti join, and self-joined the capped stream on
    // the band key. That plan walks the FULL signature pipeline (scan →
    // shingle explode → numHashes seeded-hash min aggregates — the
    // kernel's dominant cost) twice: once under the count aggregate and
    // once under the self-join (whose two sides share one exchange via
    // ReuseExchange, but the count branch cannot). Measured at the r12
    // bench: two ~1.7s single-task stages per run at sf0.1 — both the
    // whole sig pipeline.
    //
    // Instead, collect each band's members with `top_k_front` at capacity
    // maxBucket+1 (score constant ⇒ the front is the bucket's smallest
    // maxBucket+1 doc_ids, ascending): the per-task buffers stay BOUNDED —
    // a degenerate bucket at 100 TB costs maxBucket+1 heap entries, never
    // an unbounded collect_list — and a front that hit maxBucket+1 IS the
    // over-cap signal (size == maxBucket+1 ⇔ count > maxBucket), so the
    // filter below reproduces the broadcast-anti-join cap exactly.
    // Candidate pairs then come straight off each retained front (already
    // id-ascending, so pairing each element with its successors yields
    // id_a < id_b) — no anti join, no self-join, ONE signature
    // computation and ONE band exchange where there were two/three.
    // Within-bucket pair volume is Σ bucket² either way; the distinct()
    // across bands is unchanged.
    val buckets = banded.groupBy(col("band"))
      .agg(call_function("top_k_front",
        struct(lit(0.0), col("doc_id")), lit(maxBucket + 1)).as("ids"))
      .filter(size(col("ids")) <= maxBucket)
    val candidates = Tables.spread(buckets)
      .select(posexplode(col("ids")).as(Seq("i", "a")), col("ids"))
      .select(col("a.doc_id").as("id_a"),
        explode(slice(col("ids"), col("i") + 2, greatest(size(col("ids")) - col("i") - 1, lit(0))))
          .as("b"))
      .select(col("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

    // Stage 4: shingle sets for CANDIDATE docs only. The semi-join prunes
    // the raw docs BEFORE shingleTable's posexplode: Catalyst's
    // PushDownLeftSemiAntiJoin never pushes through Generate, so joining
    // after the explode would shingle the entire corpus a second time.
    // Pruning first means only candidate docs are re-scanned and exploded,
    // and the expensive set materialization (ObjectHashAggregate) touches
    // only candidates.
    val candIds = candidates.select(col("id_a").as("doc_id"))
      .union(candidates.select(col("id_b"))).distinct()
    val candDocs = docs.join(
      candIds.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_semi")
    val candSets = shingleTable(candDocs, textCol, idCol)
      .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("sh_set"))

    candidates
      .join(candSets.select(col("doc_id").as("id_a"), col("sh_set").as("sh_a")), Seq("id_a"))
      .join(candSets.select(col("doc_id").as("id_b"), col("sh_set").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Corpus-level boilerplate-line removal (the CCNet/RefinedWeb line
    * dedup pass): a line that occurs in at least `minDocFreq` DISTINCT
    * documents is boilerplate (headers, footers, cookie banners) and is
    * dropped from every document; remaining lines are reassembled in
    * their original order.
    *
    * Scale shape: the document-frequency pass shuffles only slim
    * (line-md5, doc_id) pairs — the line TEXT never rides that shuffle —
    * and the boilerplate set joins back as a left-anti on the hash
    * (AQE broadcasts it when small, which it typically is: boilerplate is
    * by definition the high-frequency tail). Reassembly is one groupBy
    * per doc with an array_sort on (pos, line) — no window, no second
    * shuffle beyond the doc key.
    *
    * @return (doc_id, n_lines, n_kept, clean_text) — always |docs| rows;
    *         a fully-boilerplate document keeps 0 lines and '' text. */
  def removeBoilerplateLines(docs: DataFrame, textCol: String, idCol: String,
      minDocFreq: Int): DataFrame = {
    require(minDocFreq > 1, s"minDocFreq must be > 1, got $minDocFreq")
    val lines = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val boiler = lines.select(md5(col("line")).as("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFreq)
      .select(col("h"))
    val kept = lines.withColumn("h", md5(col("line")))
      .join(boiler, Seq("h"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")), "\n").as("clean_text"))
    val totals = lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    totals.join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Leakage-safe train/validation split: assign each document to a
    * split by hashing its dup-cluster REPRESENTATIVE (not the doc), so a
    * near-duplicate pair can never straddle the boundary — the property
    * a per-doc random split lacks and the reason eval numbers inflate
    * when dedup happens after splitting. `trainHex` is the md5-prefix
    * acceptance threshold ("cc" ≈ 204/256 ≈ 80% train). Deterministic
    * and engine-reproducible like every md5 draw in this module; a pure
    * projection over the cluster table (no extra shuffle).
    *
    * @param clusters (doc_id, rep_id, …) — [[minhashClusters]] /
    *                 [[minhashClustersPortable]] / [[connectedComponents]]
    *                 output (for the last, pass repCol = "cluster_id") */
  def splitByCluster(clusters: DataFrame, repCol: String = "rep_id",
      trainHex: String = "cc"): DataFrame =
    clusters.withColumn("split",
      when(substring(md5(concat(lit("split|"), col(repCol).cast("string"))), 1, 2) < trainHex,
        "train").otherwise("val"))

  /** Benchmark-contamination detection (the GPT-3-style decontamination
    * pass): a corpus document is contaminated when it shares word n-grams
    * with any benchmark document. Returns one row per contaminated doc
    * with its distinct-gram count, the number of benchmark-overlapping
    * grams, and the overlap fraction.
    *
    * Grams are compared as md5 hashes: the 32-char hash is what shuffles
    * and joins (never the n-word gram text), and because md5 is
    * engine-standard the whole pass is re-derivable by an external SQL
    * oracle. At 100 TB the benchmark side is the small one by
    * construction (benchmarks are thousands of docs) — its distinct gram
    * set broadcasts, so the corpus-side explode streams through a
    * broadcast semi-join and only slim (key, count) aggregates shuffle.
    *
    * CONTRACT (the q_dedup_ngram posture, r11): the `benchmark` relation
    * must be ABSOLUTELY bounded — a fixed eval set, not a fraction of the
    * corpus — because its distinct gram set is the broadcast build side
    * and every scan task pays its hash-table size. The operator itself is
    * then linear in corpus tokens at any scale. The r10 soak measured the
    * unbounded variant (benchmark = 3% md5 sample of the corpus, so the
    * "small side" grew with SF): α 1.14 on the top distinct decade was
    * the growing build+match constant, not the kernel — the gate entry
    * now uses a fixed doc_id slice per this contract. Callers with a
    * genuinely corpus-scale "benchmark" want a shuffle semi-join instead:
    * drop the broadcast hint and let AQE pick.
    *
    * Exact-duplicate collapse (the near-dup family's pattern): both
    * n_grams and n_contaminated are functions of the TEXT alone, so the
    * shingle + semi-join kernel runs once per DISTINCT text and the
    * per-text stats propagate to members through a slim text-hash join.
    * On a web-scale corpus duplicate-group size grows with corpus size;
    * without the collapse every copy re-explodes and re-shuffles its
    * grams — still "linear", but with a constant that grows with SF (the
    * sf3 soak measured it as alpha 1.6 on the 30-copy corpus). */
  def ngramContamination(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 13): DataFrame = {
    val docKeys = corpus.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("tkey"))
    // spread both dedup boundaries: the gram explode + per-gram md5 fuses
    // onto each distinct-aggregate's output, which AQE coalesces to ~one
    // partition at small volume (see Tables.spreadSmall)
    val texts = Tables.spreadSmall(corpus.select(md5(col(textCol)).as("tkey"),
      col(textCol).as("text")).dropDuplicates("tkey"))
    val textGrams = shingleTable(texts, "text", "tkey", n)
      .select(col("doc_id").as("tkey"), md5(col("sh")).as("h")).distinct()
    val benchTexts = Tables.spreadSmall(benchmark.select(col(textCol).as("text")).distinct()
      .withColumn("tkey", md5(col("text"))))
    val benchGrams = shingleTable(benchTexts, "text", "tkey", n)
      .select(md5(col("sh")).as("h")).distinct()
    // One pass over the gram stream (r12, guide §2.4): total grams and
    // benchmark hits come out of the SAME aggregation — a broadcast
    // left-outer mark join (benchGrams is distinct on h, so no row
    // multiplication) feeds count(*) + count(mark). The r2–r11 form ran
    // two aggregates over textGrams (a count branch and a semi-join
    // branch) and inner-joined them: the whole shingle+md5+distinct
    // subtree executed twice (measured 2×0.7s single-task at the r12
    // sf0.1 bench) plus two extra exchanges.
    val perText = textGrams
      .join(broadcast(benchGrams.withColumn("__hit", lit(1))), Seq("h"), "left_outer")
      .groupBy(col("tkey")).agg(
        count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_contaminated"))
      .filter(col("n_contaminated") > 0) // contaminated docs only, as before
    docKeys
      .join(perText, Seq("tkey"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_grams")).as("contamination_frac"))
  }

  /** Exact-substring self-dedup (the EXACTSUBSTR method of Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better"):
    * for every document, find the token windows of length k whose text
    * occurs MORE THAN ONCE anywhere in the corpus (another document, an
    * exact-duplicate copy, or a repeat within the same document), merge
    * overlapping windows into maximal duplicated SPANS, and report
    * per-document span statistics — the per-doc duplicated-token
    * fraction is the standard signal for span-scrubbing or
    * repetition-aware filtering. Only documents with at least one
    * duplicated window are emitted.
    *
    * Scale design (all stages linear in corpus tokens):
    *  - the window kernel runs once per DISTINCT text (the family's
    *    exact-duplicate collapse — [[ngramContamination]]'s pattern);
    *    copies contribute via an occurrence WEIGHT, so a duplicated
    *    whole document marks every window shared without re-exploding
    *    each copy;
    *  - corpus-wide occurrence counting is a groupBy on the gram hash —
    *    partial aggregation makes the shuffle slim (h, count);
    *  - marking is a left-semi equi-join by hash (no broadcast
    *    assumption: the shared-gram set grows with the corpus);
    *  - span merging is gaps-and-islands over only the MATCHED windows
    *    of each text, partitioned by text — per-partition work is
    *    bounded by that text's token count, never by corpus size.
    *
    * Suffix arrays (the paper's single-machine index) don't distribute;
    * fixed-k windows are the relational equivalent: a span duplicated at
    * length >= k is exactly a run of >= 1 shared k-windows. Windows use
    * [[shingleTable]]'s token convention (lowercase, whitespace split;
    * texts shorter than k yield one truncated window). */
  def exactSubstringSpans(corpus: DataFrame, textCol: String, idCol: String,
      k: Int = 13): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docKeys = corpus.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("tkey"))
    // ONE aggregation yields both the distinct-text relation and its copy
    // weight (r12; was a dropDuplicates + a separate count agg + a
    // wins-sized join): every row of a tkey group carries the identical
    // text (md5 keying), so min(text) IS the group's text and the copy
    // count rides along — the downstream explode then carries `copies`
    // per window row and the old corpus-token-sized wins⨝copies join
    // disappears.
    val texts = Tables.spreadSmall(corpus.groupBy(md5(col(textCol)).as("tkey"))
      .agg(count(lit(1)).as("copies"), min(col(textCol)).as("text")))
    val toks = split(lower(trim(col("text"))), "\\s+")
    val wins = texts
      .select(col("tkey"), col("copies"), toks.as("toks"))
      .select(col("tkey"), col("copies"), col("toks"), size(col("toks")).as("n_tokens"),
        posexplode(sequence(lit(0), greatest(size(col("toks")) - k, lit(0))))
          .as(Seq("i", "iv")))
      .select(col("tkey"), col("copies"), col("n_tokens"), col("i"),
        md5(concat_ws(" ",
          (0 until k).map(j => element_at(col("toks"), col("i") + j + 1)): _*)).as("h"))
    // Corpus-wide occurrence as ONE window over the shared gram-hash
    // exchange (r12, guide §2.4 — two operations keyed the same way share
    // one pass): the r2–r11 form aggregated occurrence counts by h and
    // left-semi-joined the result back onto a SECOND computation of the
    // window kernel (measured: the md5-per-window stage ran twice per run
    // at the r12 bench). sum(copies) OVER (PARTITION BY h) marks every
    // window row with its gram's corpus-wide occurrence in the same
    // shuffle the aggregate needed anyway; rows with occ >= 2 are exactly
    // the old semi-join survivors.
    val byGram = Window.partitionBy(col("h"))
    val hits = wins
      .withColumn("occ", sum(col("copies")).over(byGram))
      .filter(col("occ") >= 2)
      .select(col("tkey"), col("n_tokens"), col("i"))
    val byText = Window.partitionBy(col("tkey")).orderBy(col("i"))
    val spans = hits
      .withColumn("gap",
        when(col("i") > coalesce(lag(col("i"), 1).over(byText), lit(-k)) + (k - 1),
          lit(1)).otherwise(lit(0)))
      .withColumn("island", sum(col("gap"))
        .over(byText.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("tkey"), col("n_tokens"), col("island"))
      .agg(min(col("i")).as("s"), (max(col("i")) + (k - 1)).as("e"),
        count(lit(1)).as("nw"))
    val perText = spans.groupBy(col("tkey"), col("n_tokens"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("nw")).as("n_dup_windows"),
        // a truncated window on a short text can end past the last token
        sum(least(col("e"), col("n_tokens") - 1) - col("s") + 1).as("dup_tokens"))
    docKeys
      .join(perText, Seq("tkey")) // inner: docs with dup spans only
      .select(col("doc_id"), col("n_tokens"),
        // arithmetic identity of the posexplode bound — not a third scan
        (greatest(col("n_tokens") - k, lit(0)) + 1).cast("long").as("n_windows"),
        col("n_dup_windows"), col("n_spans"), col("dup_tokens"),
        (col("dup_tokens").cast("double") / col("n_tokens")).as("dup_token_frac"))
  }

  /** Character n-gram set of a text column (lowercased, distinct) — the
    * n-gram Jaccard dedup family's unit of comparison. 1-based positions
    * mirror SQL substr; texts shorter than n yield their whole string. */
  def charNgrams(text: Column, n: Int = 3): Column = {
    val s = lower(text)
    array_distinct(transform(
      sequence(lit(1), greatest(length(s) - (n - 1), lit(1))),
      i => s.substr(i, lit(n))))
  }

  /** Exact character-n-gram Jaccard over ALL pairs of the given docs
    * (id_a < id_b, jaccard >= threshold).
    *
    * Scale contract: the caller bounds the pair count — feed a candidate
    * set (LSH band collisions from [[minhashPairs]]'s banding, or a
    * pre-filtered slice), never a raw 100 TB corpus; all-pairs on N docs
    * is O(N²) by definition. Within that contract the plan is one
    * broadcast nested-loop join over slim (id, gram-set) rows with a
    * codegen'd set intersection — no shuffle. */
  def ngramJaccardPairs(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"), charNgrams(col(textCol), n).as("grams"))
    val a = grams.select(col("doc_id").as("id_a"), col("grams").as("g_a"))
    val b = grams.select(col("doc_id").as("id_b"), col("grams").as("g_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("g_a"), col("g_b"))).cast("double") /
          size(array_union(col("g_a"), col("g_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Inverted-index n-gram Jaccard: identical output to
    * [[ngramJaccardPairs]] for any threshold > 0 (a pair with zero shared
    * grams has jaccard 0 and never passes), but computed relationally —
    * explode grams, self-equi-join on the gram, count shared grams per
    * pair, derive |union| = |a| + |b| - |common|. No per-pair array
    * scans: the work is a shuffle-by-gram join, so it distributes like
    * any equi-join and whole-stage-codegens end to end.
    *
    * Scale contract — the caller bounds the slice. The by-gram join
    * costs Σ_gram df², so on a corpus whose DISTINCT volume grows with
    * scale every common gram's df grows linearly and the kernel is
    * inherently quadratic (the r10 distinct-corpus soak measured α≈2.4
    * sf1→sf3). That is not an implementation artifact: char-n-gram sets
    * over same-language text are DENSE — every doc shares its common
    * grams with most of the corpus — and exact set-similarity join over
    * dense sets has quadratic candidate volume by construction. The
    * standard exact mitigations (prefix/length/positional filtering,
    * AllPairs/PPJoin) buy nothing here: with a vocabulary-bounded gram
    * universe every doc's "rare half" is the SAME grams, so prefix
    * postings stay Θ(N) — measured on the r10 soak corpus, a
    * prefix-filtered variant was strictly slower (it pays a distinct()
    * over the same quadratic candidate stream plus a per-pair gram
    * expansion the count-form never materializes). Production near-dup
    * at corpus scale therefore feeds this kernel CANDIDATES — minhash
    * band collisions ([[minhashPairs]]) — never a raw corpus slice, and
    * the catalog entries bound their slices absolutely (the
    * q_dedup_cosine posture).
    *
    * Within a bounded slice, ubiquitous grams can still create
    * pathological postings buckets — the same hazard as minhash's hot
    * bands, same mitigation: grams whose posting list exceeds
    * `maxPosting` docs are dropped from the index by a broadcast
    * anti-join. Doc sizes and shared-gram counts are BOTH computed over
    * the retained gram space, so jaccard stays internally consistent:
    * exact whenever no gram trips the cap, and an IDF-style
    * approximation (stopword-grams ignored) when one does.
    *
    * Exact-duplicate texts are collapsed to ONE representative (by
    * case-folded hash — [[charNgrams]] case-folds, so equal-modulo-case
    * texts share a gram set) BEFORE the by-gram kernel, and member pairs
    * are expanded back afterwards: an intra-group pair is jaccard 1.0 by
    * identity, and a cross-group member pair inherits its
    * representatives' jaccard exactly. Duplicates multiply every posting
    * and SQUARE the join work while adding zero information — the sf1
    * soak's 10×-dup corpus turned this kernel quadratic (681s for the
    * components entry) until the collapse; production pipelines run
    * exact dedup before near-dup for the same reason. Under the
    * uncapped/all-pairs contract the output is unchanged (LlmOpsSpec
    * proves equality with the all-pairs kernel); in the CAPPED regime the
    * collapse shifts `maxPosting` semantics — posting lengths count
    * distinct representatives, not raw docs, so a gram that tripped the
    * cap pre-collapse on a duplicate-heavy corpus may now stay exact.
    * That direction only ever makes the approximation MORE exact, but
    * hash-comparison harnesses should not treat capped-regime drift vs
    * the pre-collapse function as a regression. */
  def ngramJaccardPairsIndexed(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5, maxPosting: Int = 10000): DataFrame = {
    val keyed = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      md5(lower(col(textCol))).as("__tkey"))
    val withRep = keyed.join(
      keyed.groupBy(col("__tkey")).agg(min(col("doc_id")).as("rep_id")), Seq("__tkey"))
    val reps = withRep.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("__text"))
    val repPairs = ngramJaccardPairsUnique(reps, "__text", "doc_id", n, threshold, maxPosting)
    // intra-group: identical gram sets → jaccard exactly 1.0 (even for
    // sub-n texts — charNgrams yields the same 1-element gram list)
    val members = withRep.select(col("__tkey"), col("doc_id"))
    val intra = members.as("x").join(members.as("y"), Seq("__tkey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        lit(1.0).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // cross-group: every member pair inherits its representatives' value
    val m = withRep.select(col("doc_id").as("mid"), col("rep_id"))
    val cross = repPairs
      .join(m.as("ma"), col("ma.rep_id") === col("id_a"))
      .join(m.as("mb"), col("mb.rep_id") === col("id_b"))
      .select(least(col("ma.mid"), col("mb.mid")).as("id_a"),
        greatest(col("ma.mid"), col("mb.mid")).as("id_b"), col("jaccard"))
    intra.unionByName(cross)
  }

  /** Transitive near-dup components WITHOUT materializing the member-pair
    * expansion. [[ngramJaccardPairsIndexed]]'s pair-list contract expands
    * representative pairs back to member pairs — quadratic in duplicate-
    * group size, so on a corpus whose dup groups grow linearly with scale
    * (the web-crawl norm) the pair list itself is O(scale²) even though
    * the representative graph is constant-size. Components never need
    * those pairs: a star edge member→representative carries identical
    * connectivity (an intra-group pair connects through the shared rep; a
    * cross-group member pair inherits its reps' edge), so this feeds
    * [[connectedComponents]] edges = repPairs ∪ (member, rep) — bounded
    * by |rep pairs| + |docs| instead of Σ|group_a|·|group_b|. Labels are
    * row-for-row identical to running components over the expanded pair
    * list (same components ⇒ same min-id labels ⇒ same is_dup flags;
    * LlmOpsSpec proves equality on a dup-heavy corpus). The r9 sf3 soak
    * measured why this exists: 41.8M expanded pairs vs 61k star+rep
    * edges on the same slice — the expanded form localCheckpoints and
    * re-joins the 2×-edge list every propagation round.
    *
    * Star edges exist only when `threshold <= 1.0` (an intra-group pair
    * has jaccard exactly 1.0 — a degenerate threshold above that drops
    * them in the pair-list form too, and this form matches). */
  def ngramJaccardComponents(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5, maxPosting: Int = 10000,
      maxIter: Int = 15): DataFrame = {
    val keyed = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      md5(lower(col(textCol))).as("__tkey"))
    val withRep = keyed.join(
      keyed.groupBy(col("__tkey")).agg(min(col("doc_id")).as("rep_id")), Seq("__tkey"))
    val reps = withRep.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("__text"))
    val repPairs = ngramJaccardPairsUnique(reps, "__text", "doc_id", n, threshold, maxPosting)
      .select(col("id_a"), col("id_b"))
    val star = withRep.filter(col("doc_id") =!= col("rep_id") && lit(threshold <= 1.0))
      .select(col("doc_id").as("id_a"), col("rep_id").as("id_b"))
    connectedComponents(docs.select(col(idCol)),
      repPairs.unionByName(star), maxIter)
  }

  /** The by-gram kernel over a duplicate-free relation — see
    * [[ngramJaccardPairsIndexed]], which wraps it with the collapse. */
  private def ngramJaccardPairsUnique(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, maxPosting: Int): DataFrame = {
    val gramsRaw = docs.select(col(idCol).as("doc_id"),
      explode(charNgrams(col(textCol), n)).as("gram"))
    // posting length = documents containing the gram (charNgrams is
    // per-doc distinct), i.e. document frequency
    val oversized = gramsRaw.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxPosting)
      .select(col("gram"))
    val grams = gramsRaw.join(broadcast(oversized), Seq("gram"), "left_anti")
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val common = grams.as("a").join(grams.as("b"), Seq("gram"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("n_grams").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n_grams").as("nb")), Seq("id_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Cluster view: every doc with its representative (lowest verified
    * near-dup id, itself if unique). Always |docs| rows.
    *
    * One-hop only: a chain A~B~C where A~C never paired gives C the
    * representative B (itself a dup of A). For canonical transitive
    * clusters feed the pairs through [[connectedComponents]].
    *
    * Computed collapse-first (see [[clustersCollapsedByText]]): identical
    * texts collapse to one representative BEFORE the LSH pair kernel, so
    * the banding/verify work is sized by DISTINCT texts, not raw docs —
    * without it a duplicate group of size k pays k² candidate pairs, each
    * through an `array_intersect` over full shingle sets (the r9 sf3 soak
    * curve: dup groups grow linearly with corpus scale, so the verify
    * stage goes quadratic exactly like the ngram kernel did in r8). */
  def minhashClusters(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.6): DataFrame =
    clustersCollapsedByText(docs, textCol, idCol,
      reps => minhashPairs(reps, "__text", "doc_id", threshold = threshold))

  /** [[minhashClusters]] over the md5 ([[minhashPairsPortable]]) family —
    * same one-hop representative view, externally re-derivable. */
  def minhashClustersPortable(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.6): DataFrame =
    clustersCollapsedByText(docs, textCol, idCol,
      reps => minhashPairsPortable(reps, "__text", "doc_id", threshold = threshold))

  /** One-hop cluster view computed on the exact-duplicate-collapsed
    * relation: group docs by case-folded text, run the pair kernel over
    * group representatives only, then label members through their group.
    *
    * Identical output to `clustersFromPairs(docs, pairsOverAllDocs)`:
    * for a member m of group G (rep r = min id of G), m's smaller
    * verified partners are the other members of G (min: r) and the
    * members of any rep-paired group G' (min: its rep r'), so the one-hop
    * label min(r, min r') is the same for every member of G and equals
    * the label the expanded pair list produces (r' < r is the only case
    * that lowers it, and pair order id_a < id_b puts exactly those on the
    * id_a side). is_dup = (rep_id != doc_id) coincides with the expanded
    * form's "has a smaller partner". LlmOpsSpec proves equality on a
    * dup-heavy corpus.
    *
    * Cap-semantics note (same contract as [[ngramJaccardPairsIndexed]]'s
    * maxPosting): band buckets now count DISTINCT texts, not raw docs, so
    * a bucket that tripped `maxBucket` on a duplicate-heavy corpus may
    * now stay under it — strictly MORE exact, and the shared oracle CTE
    * chain mirrors the collapse so engine and oracle agree in the capped
    * regime too. */
  private def clustersCollapsedByText(docs: DataFrame, textCol: String,
      idCol: String, pairsOfReps: DataFrame => DataFrame): DataFrame = {
    val keyed = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("__text"), md5(lower(trim(col(textCol)))).as("__tkey"))
    // Adaptive bypass: the LSH kernel re-executes its input subtree
    // several times by design (recompute-over-cache, see minhashPairsCore
    // doc), so on a DUPLICATE-FREE relation the collapse aggregate would
    // be paid on every re-execution for zero benefit. One cheap
    // count-distinct probe decides; when every text is unique the direct
    // path is byte-identical to the collapsed one in every regime —
    // including the capped one, since reps == docs. A duplicate-heavy
    // corpus (the 100 TB web-crawl norm) takes the collapse path.
    val c = keyed.agg(
      count(lit(1)).as("n"), countDistinct(col("__tkey")).as("nd")).head()
    if (c.getLong(0) == c.getLong(1))
      return clustersFromPairs(docs, idCol,
        pairsOfReps(keyed.select(col("doc_id"), col("__text"))))
    // min_by keeps the rep's OWN text (deterministic), and the single
    // aggregate replaces the groupBy+self-join reps derivation — one
    // shuffle instead of two per kernel re-execution
    val groups = keyed.groupBy(col("__tkey")).agg(
      min(col("doc_id")).as("grp_rep"),
      min_by(col("__text"), col("doc_id")).as("__text"))
    // spread the collapse boundary: the pair kernel fuses its dominant
    // work — shingle explode + per-shingle hash cascade — onto this
    // aggregate's output, which AQE coalesces to ~one partition by bytes
    // (see Tables.spreadSmall)
    val reps = Tables.spreadSmall(groups.select(col("grp_rep").as("doc_id"), col("__text")))
    // pairs over representatives: ordered id_a < id_b, so the id_b-side
    // min is "smallest smaller partner" — the one-hop representative rule
    val nbrMin = pairsOfReps(reps)
      .select(col("id_b").as("grp_rep"), col("id_a").as("cand"))
      .groupBy(col("grp_rep")).agg(min(col("cand")).as("nbr"))
    keyed.select(col("doc_id"), col("__tkey"))
      .join(groups.select(col("__tkey"), col("grp_rep")), Seq("__tkey"))
      .join(nbrMin, Seq("grp_rep"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("nbr"), col("grp_rep")).as("rep_id"))
      .withColumn("is_dup", col("rep_id") =!= col("doc_id"))
  }

  /** SimHash near-dup pairs: docs whose 64-bit simhash fingerprints
    * (md5-portable form, [[graft.operators.TextAnalysis.simhashHexTable]])
    * differ in at most `maxHamming` bits. The third near-dup family next
    * to minhash (set resemblance) and n-gram jaccard (verified overlap):
    * simhash is a PROJECTION-sized index — one 64-bit value per doc — and
    * its candidate generation is pigeonhole-complete, not probabilistic.
    *
    * Scale shape (never all-pairs):
    *  1. exact-collapse: identical fingerprints (hamming 0, which subsumes
    *     identical texts) collapse to one representative before the pair
    *     kernel — the same guard that keeps [[ngramJaccardPairsIndexed]]
    *     linear on a duplicate-heavy corpus (a web crawl at 100 TB is
    *     exactly that).
    *  2. banding: each DISTINCT fingerprint emits `bands` hex-aligned
    *     slices; `bands > maxHamming` makes band collision a COMPLETE
    *     candidate generator (≤ maxHamming differing bits can touch at
    *     most maxHamming bands, so one band always survives intact) — the
    *     pigeonhole guarantee LSH banding only gives probabilistically.
    *     Slim (hash, band) rows shuffle; buckets above `maxBucket`
    *     distinct fingerprints are knocked out by a broadcast anti join
    *     (the documented recall/robustness contract, as in minhash).
    *  3. verify: candidate fingerprint pairs pay a 16-term codegen'd
    *     nibble hamming ([[graft.operators.TextAnalysis.hammingHex64]]).
    *  4. expand: member pairs inherit their representatives' distance
    *     exactly (identical fingerprints are interchangeable in hamming
    *     space), so the output equals the all-pairs semantics. */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    val fps = TextAnalysis.simhashHexTable(docs, textCol, idCol)
    val members = fps.select(col("simhash_hex").as("h"), col("doc_id"))
    val verified = simhashVerifiedFpPairs(
      members.select(col("h")).distinct(), maxHamming, bands, maxBucket)
    // intra-group: identical fingerprint, hamming 0 (joined on the packed
    // long — hexPacked is a bijection, so grouping by hp ≡ by hex and the
    // join shuffle carries a long instead of a 16-char string)
    val mpk = members.select(
      TextAnalysis.hexPacked(col("h")).as("hp"), col("doc_id"))
    val intra = mpk.as("x").join(mpk.as("y"), Seq("hp"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        lit(0).as("hamming"))
    // cross-group: every member pair inherits its representatives' distance.
    // The verified side is broadcast (tiny by the kernel's contract, and
    // the hint keeps AQE's build side deterministic); the SECOND join is a
    // merge join, never a broadcast: its left side is the member-EXPANDED
    // intermediate, whose row count is Σ over verified pairs of the
    // hpa-side duplicate-group size — unbounded on a dup-heavy corpus, so
    // a broadcast hint there risks running out of memory at scale. A
    // sort-merge join has no build side to flip (deterministic plan) and
    // spills gracefully at any size.
    val cross = broadcast(verified)
      .join(mpk.select(col("hp").as("hpa"), col("doc_id").as("ma")), Seq("hpa"))
      .hint("merge")
      .join(mpk.select(col("hp").as("hpb"), col("doc_id").as("mb")), Seq("hpb"))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("hamming"))
    intra.unionByName(cross)
  }

  /** Banding + hamming verification over DISTINCT fingerprints, keyed by
    * the PACKED signed-long form ([[TextAnalysis.hexPacked]] — a bijection
    * of the hex string): (hpa, hpb, hamming) with hpa < hpb (signed long
    * order — a consistent orientation; both consumers join the two sides
    * symmetrically, so orientation is free to differ from the old hex
    * order). The shared kernel of [[simhashPairs]] (which expands member
    * pairs — its output contract) and [[simhashClusters]] (which labels
    * through the fingerprint graph and never expands).
    *
    * r12 restructure (same shape as minhashPairsCore's stage 3, guide
    * §2.4): the old form computed the banded stream under an
    * oversized-count aggregate, anti-joined the cap, and self-joined on
    * the band — walking the upstream fingerprint subtree twice and paying
    * three band-keyed plan branches. One bounded `top_k_front` aggregate
    * per band now yields membership (capacity maxBucket+1: a front that
    * hit maxBucket+1 IS the over-cap signal, buffers stay bounded on a
    * degenerate bucket at any scale), and pairs come off each retained
    * front (packed-asc, so hpa < hpb by construction). The per-pair
    * verify is ONE xor+popcount of the carried packed longs — the hex→
    * long conversion runs once per banded row, never per pair (the r10
    * distinct-corpus soak measured per-pair string conversions at 4× the
    * whole kernel's cost). Verify still runs BEFORE the distinct: a pair
    * colliding in several bands re-evaluates a ~ns popcount, far cheaper
    * than hash-exchanging the full candidate volume just to dedup it —
    * survivors (hamming <= maxHamming) are tiny, and distinct() then
    * shuffles only those. Band keys pack too: (band index << 48) | slice
    * value — the widest slice (bands=2 → 8 hex chars) is 32 bits, so
    * bands never collide and the banding shuffle carries two longs per
    * row instead of two strings. */
  private def simhashVerifiedFpPairs(hashes: DataFrame, maxHamming: Int,
      bands: Int, maxBucket: Int): DataFrame = {
    require(bands > maxHamming, "band collision is complete only for bands > maxHamming")
    require(16 % bands == 0, "bands must align to the 16 hex digits")
    // the packed band key gives each slice 48 bits; slices are <= 32 bits
    // only for bands >= 2, and conv()'s long cast would overflow to null
    // on a 16-hex-char slice (r12 ADVICE — bands=1 admitted by the other
    // guards when maxHamming=0 would silently collapse half the hash
    // space into one null band)
    require(bands >= 2, "bands must be >= 2 (band slices must fit 32 bits)")
    val w = 16 / bands
    val banded = hashes.select(TextAnalysis.hexPacked(col("h")).as("hp"),
      explode(array((0 until bands).map { b =>
        lit(b.toLong << 48) +
          conv(substring(col("h"), b * w + 1, w), 16, 10).cast("long")
      }: _*)).as("band"))
    val buckets = banded.groupBy(col("band"))
      .agg(call_function("top_k_front",
        struct(lit(0.0), col("hp")), lit(maxBucket + 1)).as("ids"))
      .filter(size(col("ids")) <= maxBucket)
    Tables.spread(buckets)
      .select(posexplode(col("ids")).as(Seq("i", "a")), col("ids"))
      .select(col("a.hp").as("hpa"),
        explode(slice(col("ids"), col("i") + 2,
          greatest(size(col("ids")) - col("i") - 1, lit(0)))).as("b"))
      .select(col("hpa"), col("b.hp").as("hpb"),
        bit_count(col("hpa").bitwiseXOR(col("b.hp"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** [[minhashClusters]]-shaped one-hop representative view over the
    * simhash near-dup relation: (doc_id, rep_id, is_dup), always |docs|
    * rows.
    *
    * Labeled on the FINGERPRINT graph, never the expanded member-pair
    * list: docs sharing a fingerprint form a group (rep = min doc_id);
    * verified fingerprint pairs link groups; every member's one-hop label
    * is min(own group rep, smallest rep of any linked group) — identical
    * to `clustersFromPairs(simhashPairs(...))` (same derivation as
    * [[clustersCollapsedByText]]: the expanded pair list connects exactly
    * the member sets of linked groups) but the per-doc work is one
    * groupBy + two slim joins instead of a quadratic expansion.
    * LlmOpsSpec proves equality on a dup-heavy corpus. */
  def simhashClusters(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fps = TextAnalysis.simhashHexTable(docs, textCol, idCol)
    val members = fps.select(col("simhash_hex").as("h"), col("doc_id"))
    val grpRep = members.groupBy(col("h")).agg(min(col("doc_id")).as("grp_rep"))
    val verified = simhashVerifiedFpPairs(
      grpRep.select(col("h")), maxHamming, bands = 4, maxBucket = 1000)
    // rep-graph edges in BOTH directions: a linked group lowers the label
    // only when its rep is smaller, so take the min over all neighbors.
    // Joined on the packed-long fingerprint (the verify kernel's key —
    // hexPacked is a bijection of the hex form).
    val gpk = grpRep.select(
      TextAnalysis.hexPacked(col("h")).as("hp"), col("grp_rep"))
    // broadcast the VERIFIED side explicitly: it is tiny by the kernel's
    // contract (hamming-verified survivors), while gpk is corpus-sized (one
    // row per distinct fingerprint). Without the hint, AQE picks the build
    // side from runtime sizes that sit near the threshold here, and the
    // AQE-final plan flips build side / exchange-reuse order between runs —
    // a nondeterministic plan fingerprint (caught by
    // PlanFingerprintAtScaleSpec at sf0.1), and at scale the WRONG choice
    // would broadcast the fingerprint table. (The outer hint re-marks the
    // first join's result — still |verified| rows, gpk being unique per
    // hp — so BOTH joins build on the pair side.)
    val e = broadcast(broadcast(verified)
        .join(gpk.select(col("hp").as("hpa"), col("grp_rep").as("ra")), Seq("hpa")))
      .join(gpk.select(col("hp").as("hpb"), col("grp_rep").as("rb")), Seq("hpb"))
    val nbrMin = e.select(col("ra").as("grp_rep"), col("rb").as("cand"))
      .unionByName(e.select(col("rb").as("grp_rep"), col("ra").as("cand")))
      .groupBy(col("grp_rep")).agg(min(col("cand")).as("nbr"))
    members.join(grpRep, Seq("h"))
      .join(nbrMin, Seq("grp_rep"), "left_outer")
      .select(col("doc_id"),
        least(col("grp_rep"), coalesce(col("nbr"), col("grp_rep"))).as("rep_id"))
      .withColumn("is_dup", col("rep_id") =!= col("doc_id"))
  }

  /** One-hop representative view straight off a pair list: rep = smallest
    * smaller partner, self if none. The REFERENCE MODEL the collapse-first
    * cluster views are proven equal to (LlmOpsSpec) — production paths go
    * through [[clustersCollapsedByText]] / [[simhashClusters]], which
    * never materialize the member-pair expansion this consumes. */
  private[operators] def clustersFromPairs(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val bestRep = pairs
      .select(col("id_b").as("doc_id"), col("id_a").as("rep_cand"))
      .groupBy(col("doc_id")).agg(min(col("rep_cand")).as("rep_id"))
    docs.select(col(idCol).as("doc_id"))
      .join(bestRep, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id"),
        col("rep_id").isNotNull.as("is_dup"))
  }

  /** Connected components over a near-dup pair list: every node labeled
    * with the MINIMUM id reachable through any chain of pairs — the
    * canonical transitive dup-cluster id ([[minhashClusters]] is one-hop;
    * this closes chains A~B~C so the whole cluster shares one survivor).
    *
    * ROOT HOOKING with full path compression (the Shiloach-Vishkin shape
    * made relational): labels always point at the node's current tree
    * ROOT (compression keeps them flat), and each round aggregates hook
    * candidates PER ROOT — for every edge (u,v), root(u) considers
    * root(v) — then the whole tree re-points to the smallest candidate
    * in one update (members share the root's label, so the hook applies
    * by joining on the label column; no separate root table).
    *
    * Why per-root aggregation matters (found by DedupPropertySpec on
    * critical-density random graphs): the previous kernel took the min
    * over each NODE's direct neighbors and composed the label map once
    * (`label := label(label)`). That propagates a component's min ~2
    * topological hops per round — O(diameter) rounds when node ids are
    * placed adversarially along a path, and a measured 16+ rounds on a
    * 60-node random graph at the percolation threshold (the pointer
    * chains compress fast, but new information still enters one EDGE at
    * a time). Hooking merges TREES, not nodes: every tree with a
    * boundary edge either hooks onto a smaller root or is hooked onto
    * by a larger one, so the number of trees per component at least
    * halves every round — O(log n) rounds on ANY topology, which is the
    * bound the 100 TB story needs (a million-doc near-dup chain: ~20
    * rounds, not ~500k).
    *
    * Each hooking round is ONE driver action (the eager localCheckpoint
    * materializes the new labels while an `improved` flag ticks a
    * LongAccumulator); the inner compression loop — hooked roots can
    * chain r1→r2→r3 within a round — doubles pointer depth per pass and
    * is usually a single pass on real dup graphs. The fixpoint test is
    * sound: an unconverged component always has an edge whose endpoint
    * ROOTS differ, which the hook flag counts; task retries can only
    * inflate a nonzero tick count, never fake a zero (Spark applies
    * accumulator updates from successful tasks only).
    *
    * @param nodes one column of node ids (e.g. `docs.select(idCol)`)
    * @param pairs two columns `id_a`, `id_b` (direction ignored)
    * @return (doc_id, cluster_id, is_dup) — always |nodes| rows */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var labels = nodes.toDF("id").select(col("id"), col("id").as("label"))
      .localCheckpoint(true)

    /** label := label(label) until idempotent — flattens hook chains so
      * the next round's labels are true roots. Depth doubles per pass. */
    def compress(): Unit = {
      var pass = 0
      var flat = false
      while (!flat) {
        if (pass >= 64) throw new IllegalStateException(
          "connectedComponents: compression did not flatten in 64 passes")
        val moved = spark.sparkContext.longAccumulator(s"graft.cc.compress.$pass")
        val tick = udf { (m: Boolean) => if (m) moved.add(1L); m }
        val asMap = labels.select(col("label").as("label2"), col("id").as("label"))
        labels = labels.join(asMap, Seq("label"), "left_outer")
          .select(col("id"),
            coalesce(col("label2"), col("label")).as("label"),
            tick(coalesce(col("label2") < col("label"), lit(false))).as("moved"))
          .localCheckpoint(true)
          .select(col("id"), col("label"))
        flat = moved.value == 0
        pass += 1
      }
    }

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val improves = spark.sparkContext.longAccumulator(s"graft.cc.improves.$iter")
      val tick = udf { (imp: Boolean) => if (imp) improves.add(1L); imp }
      // hook candidates per ROOT: min over root(dst) for every edge out
      // of the tree. Two slim joins resolve endpoint roots; the groupBy
      // key is the root id, so the whole tree moves together.
      val hooks = edges
        .join(labels.select(col("id").as("src"), col("label").as("rsrc")), Seq("src"))
        .join(labels.select(col("id").as("dst"), col("label").as("rdst")), Seq("dst"))
        .groupBy(col("rsrc").as("label"))
        .agg(min(col("rdst")).as("cand"))
      val hooked = labels.join(hooks, Seq("label"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("cand"), col("label"))).as("label"),
          tick(coalesce(col("cand") < col("label"), lit(false))).as("improved"))
      // one jump composition INSIDE the round's job (label := label(label))
      // so star-shaped dup graphs stay at one driver action per round
      val asMap = hooked.select(col("label").as("label2"), col("id").as("label"))
      labels = hooked.join(asMap, Seq("label"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("label2"), col("label"))).as("label"),
          col("improved"))
        .localCheckpoint(true) // the round's action; ticks `improves`
        .select(col("id"), col("label"))
      if (improves.value == 0) converged = true
      // Full compression is an ACCELERATOR, not a correctness need: the
      // fixpoint test is sound on unflattened labels (any two adjacent
      // nodes with different labels put a cand < label in some root
      // group), and labels only decrease. Real dup graphs (stars + rep
      // edges) converge within ~3 one-action rounds; only a graph still
      // improving after that — long adversarial chains — pays the
      // flattening passes that make the tree-halving O(log n) bound bite.
      else if (iter >= 3) compress()
      iter += 1
    }
    // Trees per component at least halve every hooking round, so
    // components with more than ~2^maxIter initial singletons would
    // otherwise return silently WRONG (split) cluster ids. Fail loud —
    // the caller can raise maxIter (cost: a few slim joins per round).
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds; " +
        "a component has more than ~2^maxIter members - raise maxIter")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"),
      (col("id") =!= col("label")).as("is_dup"))
  }
}
