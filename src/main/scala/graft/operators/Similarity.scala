package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  * Extension surface beyond the reference (its only vector trace is the
  * madlib string-encoded vectors, be/src/exprs/udf-builtins.h:558) — built
  * on ArrayType the way SURVEY §2.9 prescribes.
  *
  * All arithmetic is double, accumulated with a sequential left fold
  * (`aggregate`), so results are bit-deterministic for a given element
  * order — which makes top-k reproducible and oracle-checkable.
  *
  * Scale design: brute-force top-k broadcasts the (small) query set and
  * pipelines over the corpus — one pass, no shuffle except the final
  * per-query top-k (TakeOrdered-style). The LSH variant buckets both sides
  * by hash-derived hyperplane signs and joins bucket-to-bucket: candidate
  * generation is an equi-join, never a cross join — the 100 TB path.
  */
object Similarity {

  /** dot(a, b) in double with sequential accumulation — a codegen'd
    * Catalyst expression (VectorMath.dot), bit-identical to the
    * `aggregate(zip_with(...))` fold it replaces but ~an order of
    * magnitude faster: one tight loop inside whole-stage codegen vs
    * per-element interpreted lambda dispatch. */
  def dot(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Single-pass cosine (dot + both norms in one loop). */
  def cosine(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)

  /** Per-query top-k over a scored candidate relation
    * (query_id, cand_id, sim) → (query_id, cand_id, sim, rnk), exactly
    * `row_number() OVER (PARTITION BY query_id ORDER BY sim DESC,
    * cand_id ASC) <= k` — but via the bounded partial-merging
    * `top_k_front` aggregate instead of a window. The window form must
    * hash-exchange EVERY scored row into ≤ nQueries partitions before it
    * can rank (a key-cardinality parallelism ceiling AND a corpus-sized
    * shuffle); the aggregate keeps one ≤ k heap per query per map task,
    * so the exchange carries only (mapTasks × nQueries) serialized
    * fronts. The front array comes back best-first sorted, so rank is
    * its position. */
  private def frontTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(call_function("top_k_front",
        struct(col("sim"), col("cand_id")), lit(k)).as("front"))
      .select(col("query_id"), posexplode(col("front")).as(Seq("i", "e")))
      .select(col("query_id"), col("e.cand_id").as("cand_id"),
        col("e.sim").as("sim"), (col("i") + 1).as("rnk"))

  /** Brute-force cosine top-k: every query row against every corpus row,
    * queries broadcast. Returns (query id, corpus id, cosine, rank). */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    frontTopK(scored.select(col("query_id"), col("cand_id"), col("sim")), k)
  }

  /** Deterministic ±1 hyperplane weights: nothing random at runtime, the
    * planes are a pure function of (plane index, dimension).
    *
    * Known defect, kept as is because every candidate set and recall pin
    * depends on it: FNV-1a multiplies by an odd prime, so the low bit of
    * `hashLongBits` is the seed's low bit XOR the low bits of the input
    * bytes, and for these inputs the sign is the parity of `p + d`. Every
    * plane is therefore ± the same alternating vector: odd planes' bits are
    * the complements of even planes' bits, every vector lands in one of two
    * buckets, and every table repeats the same split. */
  private def planeWeight(p: Int, dims: Int): Seq[Double] =
    (0 until dims).map { d =>
      val h = graft.functions.FnvHash64.hashLongBits((p.toLong << 32) | d.toLong, 8)
      if ((h & 1L) == 0L) 1.0 else -1.0
    }

  /** Sign-LSH bucket id: bit b set iff dot(v, plane_b) >= threshold_b.
    * `table` selects a plane family (plane indices offset by table*planes)
    * and namespaces the bucket ids so tables never collide. Each plane is
    * one array literal, not an array of `dims` literals: the expression
    * tree stays small for analysis, optimization and every AQE re-plan.
    *
    * `thresholds` mean-centers the hash: for non-centered embeddings (a
    * large shared mean component — true of most real embedding models and
    * of the synthetic corpus) origin-crossing hyperplanes tend to split the
    * data the same way. Centering on the corpus mean is the standard fix,
    * and by linearity it reduces to the scalar per-plane threshold
    * dot(mean, w). (The buckets still collapse to two complementary ids
    * here, but because the planes are one plane: see [[planeWeight]].)
    */
  def lshBucket(vec: Column, planes: Int, dims: Int, table: Int = 0,
      thresholds: Seq[Double] = Nil): Column = {
    val signBits = (0 until planes).map { p =>
      val w = typedLit(planeWeight(table * planes + p, dims))
      val thr = if (thresholds.isEmpty) 0.0 else thresholds(p)
      when(dot(vec, w) >= thr, lit(1L << p)).otherwise(lit(0L))
    }
    (lit(table.toLong << planes) +: signBits).reduce(_ + _)
  }

  /** Per-dimension corpus mean (one 64-row aggregate, driver-collected —
    * the LSH analogue of IVF's centroid fit). A session collects it once per
    * corpus ([[graft.Tables.collectOnce]]): a later call over the same
    * corpus plan and unchanged files runs no Spark job. */
  private[graft] def dimMeans(corpus: DataFrame, vecCol: String): Array[Double] =
    graft.Tables.collectOnce(corpus.select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy(col("i")).agg(avg(col("x").cast("double")).as("m"))
      .orderBy(col("i"))).map(_.getDouble(1))

  private[graft] def planeThresholds(mean: Array[Double], planes: Int, dims: Int, table: Int): Seq[Double] =
    (0 until planes).map { p =>
      planeWeight(table * planes + p, dims).zip(mean).map { case (a, b) => a * b }.sum
    }

  /** LSH-bucketed cosine top-k with MULTI-PROBE: each query searches its
    * own bucket plus every bucket at hamming distance 1 (one hyperplane
    * sign flipped) — the standard recall fix for sign-LSH, since a near
    * neighbor sitting close to one hyperplane lands one bit away. Probing
    * is query-side only: the corpus keeps exactly one bucket per vector,
    * so the candidate join stays a bucket equi-join touching
    * ~(planes+1)/2^planes of the corpus per query. Recall < 1 by
    * construction (documented); `planes` tunes the recall/cost point.
    *
    * `tables` (the classic L-tables trade) only buys recall when the
    * plane families cut the data DIFFERENTLY. Today they cannot: every
    * plane is ± one alternating vector ([[planeWeight]]), so every table
    * makes the same two-way split and tables=1/2/4 yield byte-identical
    * candidate sets. The IVF variant (data-adaptive centroids, nProbe>1)
    * reaches the cross-split neighbors this misses.
    *
    * Each query's own bucket is projected once per table, and its hamming-1
    * probes XOR that column instead of re-deriving the bucket expression.
    *
    * Ids are unique on each side: `idCol` names one row of `queries` and one
    * row of `corpus`. With one table the bucket join then yields each
    * (query, candidate) pair at most once — a query's probe buckets are
    * pairwise distinct and a corpus vector has exactly one bucket — so the
    * scored pairs go to the top-k as they are. With several tables a pair
    * can collide in more than one, and a (query_id, cand_id) aggregate
    * dedups it first. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int = 6, dims: Int = 64,
      multiProbe: Boolean = true, tables: Int = 1): DataFrame = {
    // mean-centered hashing (see lshBucket doc): one tiny aggregate per
    // session and corpus, then thresholds are plan-time literals
    val mean = dimMeans(corpus, vecCol)
    val thrs = (0 until tables).map(t => planeThresholds(mean, planes, dims, t))
    // query probes: per table, own bucket (+ hamming-1 flips when probing)
    val owns = (0 until tables).map(t => s"own$t")
    val probeBuckets = array(owns.flatMap { o =>
      if (multiProbe) col(o) +: (0 until planes).map(p => col(o).bitwiseXOR(lit(1L << p)))
      else Seq(col(o))
    }: _*)
    val q = queries.select(col(idCol).as("query_id") +: col(vecCol).as("qv") +:
        owns.zipWithIndex.map { case (o, t) =>
          lshBucket(col(vecCol), planes, dims, t, thrs(t)).as(o) }: _*)
      .select(col("query_id"), col("qv"), explode(probeBuckets).as("bucket"))
    // corpus: one bucket per table per vector (the classic L-tables
    // space-for-recall trade: index size × L, candidates still bucket-join)
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      explode(array((0 until tables).map(t =>
        lshBucket(col(vecCol), planes, dims, t, thrs(t))): _*)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .select(col("query_id"), col("cand_id"), cosine(col("qv"), col("cv")).as("sim"))
    // a pair can collide in several tables — dedup before ranking
    frontTopK(if (tables == 1) scored
      else scored.groupBy(col("query_id"), col("cand_id")).agg(max(col("sim")).as("sim")), k)
  }

  /** Per-vector int8 scalar quantization (asymmetric affine, the
    * FAISS-SQ8 shape): v_i ≈ o + s·q_i with q_i ∈ [-128,127],
    * s = (max−min)/255, o = min + 128·s. Emits the quantized index row
    * for `vec`: codes + the three scalars approximate scoring needs
    * (offset/scale/Σq) + the EXACT float norm (8 bytes/vector, stored at
    * index build like FAISS does for IP→cosine).
    *
    * Why it matters at 100 TB: the ANN candidate scan is memory-bandwidth
    * bound, and codes are 1 byte/dimension instead of 4 — a 4× smaller
    * index that keeps ~1e-3 cosine accuracy on unit-scale embeddings.
    * Approximate dot reconstructs algebraically, with the only per-pair
    * work an integer multiply-add fold (dot_product_q8, codegen'd):
    *   dot(a,b) ≈ d·oa·ob + oa·sb·Σqb + ob·sa·Σqa + sa·sb·Σ(qa·qb).
    */
  def quantizeQ8(vec: Column): Column =
    call_function("quantize_q8", vec)

  /** Approximate cosine from two quantized index rows (structs produced by
    * [[quantizeQ8]]): integer code dot + the affine correction terms, over
    * the exact stored norms. Pure scalar arithmetic around one codegen'd
    * integer fold — whole-stage-codegen friendly. Dimensionality comes
    * from the codes themselves (size of the `qv` array), so the kernel is
    * correct for any vector width without a caller-supplied constant. */
  def cosineQ8(a: Column, b: Column): Column = {
    val codeDot = call_function("dot_product_q8", a("qv"), b("qv")).cast("double")
    val approxDot = size(a("qv")).cast("double") * a("o") * b("o") +
      a("o") * b("s") * b("sumq").cast("double") +
      b("o") * a("s") * a("sumq").cast("double") +
      a("s") * b("s") * codeDot
    approxDot / (a("nrm") * b("nrm"))
  }

  /** Scalar-quantized (int8) cosine top-k with exact re-rank: the corpus
    * is scanned as a quantized index (4× less memory traffic than float
    * codes — at 100 TB of embeddings that is the difference between an
    * in-memory index tier and spilling), each query keeps its
    * `oversample`·k best candidates by approximate score, and only those
    * candidates re-join the float vectors for the exact cosine that
    * produces the final ranking. Same output contract as [[bruteForceTopK]];
    * recall < 1 only when a true top-k neighbor falls outside the
    * oversampled approximate front (quantization error ~1e-3 cosine, so
    * in practice oversample 4–8 recovers it).
    *
    * Scale shape: queries (tiny) broadcast twice — once as quantized rows
    * against the index scan, once as float vectors for the re-rank; the
    * approximate front is a bounded partial aggregate ([[frontTopK]]'s
    * `top_k_front`), so each map task ships only its local ≤ k·oversample
    * front per query and the scored corpus rows never cross the wire;
    * the candidate set (queries × oversample·k ids) then broadcasts back
    * against the corpus for the exact verify — the corpus itself is
    * never shuffled. */
  def q8TopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      oversample: Int = 8): DataFrame = {
    // quantized corpus index (in production: a materialized index table)
    val cIdx = corpus.select(col(idCol).as("cand_id"), quantizeQ8(col(vecCol)).as("cq"))
    val qIdx = queries.select(col(idCol).as("query_id"), quantizeQ8(col(vecCol)).as("qq"))
    val approx = cIdx.crossJoin(broadcast(qIdx))
      .withColumn("sim", cosineQ8(col("qq"), col("cq")))
      .transform(frontTopK(_, k * oversample))
      .select(col("query_id"), col("cand_id"))
    // exact re-rank on the surviving candidates only
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"))
    val rescored = cv.join(broadcast(approx), Seq("cand_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
      .select(col("query_id"), col("cand_id"), col("sim"))
    frontTopK(rescored, k)
  }

  /** IVF-style cosine top-k: corpus bucketed by nearest k-means centroid,
    * queries probe their `nProbe` closest centroids, exact cosine re-ranks
    * within probed buckets (the classic IVF-flat recall/cost trade).
    *
    * Scale: centroids are tiny and broadcast; the corpus is scanned once to
    * assign buckets (one ML pass), and candidate generation is the
    * (bucket) equi-join — identical shuffle shape to the LSH variant, with
    * data-adaptive buckets instead of oblivious hyperplanes. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 2): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession

    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
      .withColumn("features", array_to_vector(col("cv").cast("array<double>")))
    // Train centroids on a bounded sample: KMeans quality saturates long
    // before 100k points, and fitting on the full corpus would make the
    // training pass O(corpus × iterations) — the one 100 TB scale hazard
    // this operator had. The cap is taken as the top-`trainCap` rows by
    // id-hash (TakeOrderedAndProject: per-partition top-k + merge, no
    // full sort, no prior count() pass) — a uniform pseudo-random sample
    // that is deterministic regardless of corpus partitioning, then
    // persisted so KMeans' iterations don't re-scan the corpus.
    val trainCap = 100000
    val train = c.orderBy(xxhash64(col("cand_id")).asc, col("cand_id").asc)
      .limit(trainCap).persist()
    // Auto-sizing (nCentroids <= 0): nlist ≈ sqrt(n) — the standard
    // IVF-flat sizing (bucket size ≈ probe cost ≈ sqrt(n)) — derived
    // from the persisted training sample's count, so the one action this
    // costs also warms the persist KMeans is about to iterate over.
    // sqrt() saturates at sqrt(trainCap) ≈ 316 by construction, which
    // also keeps ≥ ~300 training points per centroid. An auto nProbe
    // (<= 0) keeps the probed-bucket FRACTION at 1/3 (measured sweep on
    // the driver corpora: 1/4 saturates at the two-cluster same-half
    // recall 20/30 at every SF; 1/3 reaches 26/27/22 of 30 at
    // sf0.001/0.01/0.1, ≥ the fixed (32, 8) config at each) — a constant
    // fraction, so recall doesn't decay as nlist grows with the corpus.
    val nlist =
      if (nCentroids > 0) nCentroids
      else math.max(4, math.ceil(math.sqrt(train.count().toDouble)).toInt)
    val probeN = if (nProbe > 0) nProbe else math.max(2, (nlist + 2) / 3)
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(10).fit(train)
    train.unpersist(blocking = false)
    val assigned = model.transform(c)
      .select(col("cand_id"), col("cv"), col("prediction").as("bucket"))

    // centroid table (tiny, broadcast): queries rank centroids by L2 and
    // keep the nProbe nearest buckets
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq.toDF("bucket", "centroid")
    val l2 = aggregate(
      zip_with(col("qv"), col("centroid"), (x, y) => {
        val d = x.cast("double") - y
        d * d
      }), lit(0.0), (acc, x) => acc + x)
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(l2.asc, col("bucket").asc)))
      .filter(col("rnk") <= probeN)
      .select(col("query_id"), col("qv"), col("bucket"))

    val scored = assigned.join(broadcast(probes), Seq("bucket"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .select(col("query_id"), col("cand_id"), col("sim"))
    frontTopK(scored, k)
  }

  /** Exact embedding-cosine near-duplicate pairs over ALL pairs of the
    * given vectors (id_a < id_b, cosine >= threshold). DuckDB-mirrorable
    * (sequential double folds both sides), unlike the LSH-bucketed
    * [[cosineNearDupPairs]] whose candidate set depends on seeded
    * hyperplanes.
    *
    * Scale contract: caller bounds the slice — all-pairs is O(N²); the
    * 100 TB path is [[cosineNearDupPairs]] (bucket equi-join candidates,
    * this exact kernel only on collisions). */
  def cosineNearDupPairsExact(
      vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = vecs.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = vecs.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets (id_a < id_b,
    * cosine above threshold). Candidate generation is the bucket
    * equi-join — the 100 TB path; [[cosineNearDupPairsExact]] is the
    * all-pairs verification kernel for bounded slices.
    *
    * Scale shape (mirrors the minhash kernel stage for stage):
    *  1. mean-centered buckets ([[lshBucket]] doc);
    *  2. hot-bucket cap: home buckets above `maxBucket` vectors are
    *     knocked out by a broadcast anti join (the same bounded-work /
    *     recall trade as minhash `maxBucket` and ngram `maxPosting`);
    *  3. symmetric multi-probe: each vector PROBES its own bucket plus
    *     every hamming-1 flip while the home index keeps one bucket per
    *     vector — a pair is a candidate when its home buckets differ in
    *     at most one plane sign, the pair analogue of [[lshTopK]]'s
    *     query-side probing (recall < 1 by construction, documented);
    *  4. slim (id_a, id_b) candidates dedup BEFORE vectors re-join for
    *     the exact cosine verify — wide embedding arrays never ride the
    *     candidate dedup shuffle.
    *
    * Caveat (same as [[lshTopK]]): every plane is ± one alternating
    * vector ([[planeWeight]]), so the buckets collapse to two
    * complementary halves on any corpus; on the synthetic corpus the cap
    * then knocks out half the population. [[ivfNearDupPairs]]
    * (data-adaptive centroids) does not share the defect. */
  def cosineNearDupPairs(
      vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 6, dims: Int = 64,
      multiProbe: Boolean = true, maxBucket: Int = 1000): DataFrame = {
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val thrs = planeThresholds(dimMeans(base, "v"), planes, dims, table = 0)
    val home = base.select(col("id"),
      lshBucket(col("v"), planes, dims, 0, thrs).as("bucket"))
    val oversized = home.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucket).select(col("bucket"))
    val capped = home.join(broadcast(oversized), Seq("bucket"), "left_anti")
    val probeSide =
      if (!multiProbe) capped
      else capped.select(col("id"), explode(array(
        (col("bucket") +: (0 until planes).map(p =>
          col("bucket").bitwiseXOR(lit(1L << p)))): _*)).as("bucket"))
    val pairs = probeSide.select(col("bucket"), col("id").as("id_a"))
      .join(capped.select(col("bucket"), col("id").as("id_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(base.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Embedding near-dup pairs via IVF buckets: k-means centroids
    * (deterministic — seeded, trained on the same hash-ordered bounded
    * sample as [[ivfTopK]]), every vector assigned to its nearest
    * centroid, candidates from the bucket equi-join, exact cosine verify.
    *
    * This is the near-dup kernel of choice while the sign-LSH planes are
    * one plane: [[cosineNearDupPairs]]' buckets collapse to two
    * complementary halves ([[planeWeight]]), while data-adaptive centroids
    * put each tight family in one bucket. [[cosineNearDupPairs]] remains
    * the oblivious-hash alternative.
    *
    * Scale shape: centroid fit is bounded (100k-sample cap), assignment
    * is one broadcast-centroid pass, buckets above `maxBucket` are
    * knocked out by a broadcast anti join (bounded work per bucket), and
    * slim (id_a, id_b) candidates dedup before vectors re-join for the
    * verify. Size `nCentroids` ~ corpus/targetBucket at scale. Recall < 1
    * only for families straddling a centroid boundary (near-identical
    * members almost always share their nearest centroid). */
  def ivfNearDupPairs(
      vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCentroids: Int = 16, maxBucket: Int = 1000): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val feat = base.withColumn("features", array_to_vector(col("v").cast("array<double>")))
    val train = feat.orderBy(xxhash64(col("id")).asc, col("id").asc)
      .limit(100000).persist()
    val model = new KMeans().setK(nCentroids).setSeed(42L).setMaxIter(10).fit(train)
    train.unpersist(blocking = false)
    val assigned = model.transform(feat)
      .select(col("id"), col("prediction").as("bucket"))
    val oversized = assigned.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucket).select(col("bucket"))
    val capped = assigned.join(broadcast(oversized), Seq("bucket"), "left_anti")
    val pairs = capped.select(col("bucket"), col("id").as("id_a"))
      .join(capped.select(col("bucket"), col("id").as("id_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(base.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }
}
