package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral tests for the LLM-pipeline operators on injected cases (the
  * synthetic corpus has no natural near-dups, so we create some). */
class LlmOpsSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
      (3L, "completely different content about database engines and query planning"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (5L, "short text")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps one survivor per distinct text") {
    val deduped = Dedup.exact(docs, "text", "doc_id")
    val ids = deduped.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L, 5L)) // 4 collapsed into 1
  }

  test("minhash LSH finds near-dup and exact-dup pairs, skips unrelated") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup
    assert(pairs.contains((1L, 2L))) // near dup (one word differs)
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated never pairs
  }

  test("minhash clusters assign lowest-id representative") {
    val clusters = Dedup.minhashClusters(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(clusters(4L) === (1L, true))
    assert(clusters(2L) === (1L, true))
    assert(clusters(3L) === (3L, false))
  }

  test("simhash hamming distance is small for near-dups, large for unrelated") {
    val sh = docs.select(col("doc_id"), TextAnalysis.simhash64(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(4L)) === 0) // identical text → identical simhash
    assert(ham(sh(1L), sh(2L)) <= 12, s"near-dup hamming ${ham(sh(1L), sh(2L))}")
    assert(ham(sh(1L), sh(3L)) > 12, s"unrelated hamming ${ham(sh(1L), sh(3L))}")
  }

  test("relational simhashTable agrees with the Column-level simhash64") {
    val colVersion = docs.select(col("doc_id"), TextAnalysis.simhash64(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tblVersion = TextAnalysis.simhashTable(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(colVersion === tblVersion)
  }

  test("relational shingleTable agrees with the Column-level shingles") {
    val colVersion = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val tblVersion = Dedup.shingleTable(docs, "text", "doc_id")
      .groupBy("doc_id").agg(collect_set(col("sh")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(colVersion === tblVersion)
  }

  test("cosine expression matches hand-computed value; LSH recall on self") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val sims = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(sims((1L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(sims((1L, 3L))) < 1e-12)
    val expected12 = 0.9 / math.sqrt(0.9 * 0.9 + 0.1 * 0.1) // float-exact inputs
    assert(math.abs(sims((1L, 2L)) - expected12) < 1e-6)
    // near-dup pair detection via bucketed path (4 dims, 2 planes)
    val nd = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.95, planes = 2, dims = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,2) has cosine ~0.994; same bucket not guaranteed, but if present it must be that pair
    assert(nd.subsetOf(Set((1L, 2L))))
  }

  test("IVF top-k finds the exact nearest neighbor when it shares a bucket") {
    import spark.implicits._
    // clustered data: two tight groups far apart -> kmeans separates them,
    // so the true nearest neighbor is always in the probed bucket
    val mk = (base: Double, i: Int) => Array.tabulate(8)(d => (base + i * 0.01 + d * 0.001).toFloat)
    val corpus = ((0 until 20).map(i => (100L + i, mk(1.0, i))) ++
      (0 until 20).map(i => (200L + i, mk(-1.0, i)))).toDF("vec_id", "embedding")
    val queries = Seq((1L, mk(1.0, 0)), (2L, mk(-1.0, 0))).toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding", k = 3,
      nCentroids = 2, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val brute = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivf((1L, 1)) === brute(1L)) // rank-1 agrees with brute force
    assert(ivf((2L, 1)) === brute(2L))
  }

  test("multimodal pipeline preserves ids and emits fixed-width features") {
    import spark.implicits._
    val d = Seq((10L, "some media payload text", "en", "src3", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val feats = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(d)).collect()
    assert(feats.length === 1)
    assert(feats(0).media_id === 10L)
    assert(feats(0).features.length === Multimodal.FakeCodec.featureDims)
    assert(feats(0).n_bytes === 23)
    // determinism: same bytes → same features
    val again = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(d)).collect()
    assert(feats(0).features.toSeq === again(0).features.toSeq)
  }

  test("text analysis expressions") {
    import spark.implicits._
    val t = Seq("The quick brown fox, it is fast!").toDF("text")
    val row = t.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.bpeTokenCount(col("text")).as("bpe"),
      TextAnalysis.langGuess(col("text")).as("lang"),
      TextAnalysis.fingerprint64(col("text")).as("fp")).collect()(0)
    assert(row.getAs[Int]("n") === 7)
    assert(row.getAs[Long]("bpe") === 9) // 7 words + comma + bang
    assert(row.getAs[String]("lang") === "en")
    // fingerprint ignores whitespace noise
    val fp2 = Seq("  The   quick brown fox,  it is fast!  ").toDF("text")
      .select(TextAnalysis.fingerprint64(col("text"))).collect()(0).getLong(0)
    assert(row.getAs[Long]("fp") === fp2)
  }

  test("ANN recall gate: IVF and LSH reach recall@10 >= 0.9 vs brute force (sf0.001)") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val k = 10
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k))
    def recallOf(got: Map[Long, Set[Long]]): Double = {
      val per = brute.map { case (q, truth) =>
        got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      per.sum / per.size
    }
    // Gates pin the recall/cost points so an implementation regression
    // (broken bucketing, wrong re-rank, lost candidates) fails loudly.
    //
    // IVF (data-adaptive centroids) reaches 0.9+ on this corpus. Sign-LSH
    // does not, and the corpus is not the cause: its hyperplanes are one
    // plane. `Similarity.planeWeight` takes each weight's sign from the low
    // bit of an FNV-1a hash, which is the parity of p + d, so every plane
    // (and every table) is ± the same alternating vector and every vector
    // lands in one of two complementary buckets. Recall therefore saturates
    // at the same-bucket fraction (~0.66) for any planes/tables config. A
    // sign from a mixed hash bit moves these pins with it.
    val ivf = recallOf(topSets(
      Similarity.ivfTopK(queries, emb, "vec_id", "embedding", k, nCentroids = 16, nProbe = 10)))
    val lsh = recallOf(topSets(
      Similarity.lshTopK(queries, emb, "vec_id", "embedding", k,
        planes = 4, dims = 64, tables = 4)))
    // degenerate probe-everything config: machinery must give exact top-k
    val lshFull = recallOf(topSets(
      Similarity.lshTopK(queries, emb, "vec_id", "embedding", k,
        planes = 1, dims = 64, multiProbe = true)))
    withClue(s"IVF recall@$k = $ivf, LSH recall@$k = $lsh, LSH-full = $lshFull:") {
      assert(ivf >= 0.9)
      assert(lsh >= 0.6)
      assert(lshFull === 1.0)
    }
  }

  test("ngram jaccard finds near/exact dups, orders pairs, respects threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(( 1L, 4L)) === 1.0)          // exact dup: identical gram sets
    assert(pairs((1L, 2L)) > 0.8)             // near-dup: today vs tonight
    assert(pairs.keys.forall { case (a, b) => a < b })
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L }) // unrelated
  }

  test("indexed ngram jaccard equals the all-pairs kernel (values and pairs)") {
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // threshold 0.01 exercises near-zero-overlap pairs too
    val allPairs = collect(Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.01))
    val indexed = collect(Dedup.ngramJaccardPairsIndexed(docs, "text", "doc_id", 3, 0.01))
    assert(indexed === allPairs)
    assert(allPairs.nonEmpty)
  }

  test("indexed ngram jaccard caps hot grams: pathological corpus stays bounded, normal corpus unchanged") {
    import spark.implicits._
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // 30 docs of the form "<ccc> zzz" where <ccc> is a tripled symbol
    // unique to the doc (charNgrams lowercases, so the alphabet must be
    // case-insensitively distinct): the only grams any two docs share are
    // the ubiquitous " zz"/"zzz" tail. Without the cap that posting list
    // alone yields 30*29/2 = 435 pairs; with the cap the hot grams are
    // dropped from the index and no cross-pair survives.
    val alphabet = "abcdefghijklmnopqrstuvwxy01234" // 30 symbols, no 'z'
    val pathological = (0 until 30)
      .map(i => (i.toLong, s"${alphabet(i).toString * 3} zzz"))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairsIndexed(
      pathological, "text", "doc_id", n = 3, threshold = 0.01, maxPosting = 10)
    // every surviving pair must share a NON-ubiquitous gram; the docs are
    // constructed so they don't — the quadratic bucket is gone
    assert(capped.count() === 0)
    // sanity that the uncapped form would have paired everything via "zzz"
    val uncapped = Dedup.ngramJaccardPairsIndexed(
      pathological, "text", "doc_id", n = 3, threshold = 0.01, maxPosting = Int.MaxValue)
    assert(uncapped.count() === 435)
    // and on the normal corpus the default cap never trips: output identical
    val normal = collect(Dedup.ngramJaccardPairsIndexed(docs, "text", "doc_id", 3, 0.01))
    val reference = collect(Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.01))
    assert(normal === reference)
  }

  test("connected components close dup chains that one-hop clustering splits") {
    import spark.implicits._
    // chain 1~2~3 (1 and 3 never paired directly), pair 5~6, singleton 9
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(comp(1L) === (1L, false))
    assert(comp(2L) === (1L, true))
    assert(comp(3L) === (1L, true)) // transitively reaches 1 through 2
    assert(comp(5L) === (5L, false))
    assert(comp(6L) === (5L, true))
    assert(comp(9L) === (9L, false))
    // a long path exercises multi-round propagation to a fixpoint
    val chain = (1L to 12L).toDF("id")
    val chainPairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain, chainPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.forall(_._2 == 1L))
    // a component needing more rounds than maxIter must fail loud, not
    // return split clusters. A monotone chain collapses in one hooking
    // round (compression flattens it), so the hard fixture is a path
    // with PERMUTED ids: trees merge basin-by-basin, ~log rounds.
    val perm = new scala.util.Random(7).shuffle((1L to 64L).toVector)
    val permChain = perm.toDF("id")
    val permPairs = (0 until 63).map(i => (perm(i), perm(i + 1))).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(permChain, permPairs, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
    // root hooking: the same 64-node permuted path (diameter 63,
    // adversarial id placement) converges in O(log n) rounds — plain
    // one-hop propagation would need ~63
    val longLabels = Dedup.connectedComponents(permChain, permPairs, maxIter = 10)
      .collect().map(_.getLong(1))
    assert(longLabels.forall(_ == 1L))
  }

  test("star-edge ngram components equal components over the expanded pair list") {
    import spark.implicits._
    // dup-heavy corpus: three texts with duplicate groups of size 4/3/1,
    // where texts A and B are near-dups (cross-group chain) and C is
    // unrelated — exercises intra-group, cross-group and singleton paths
    val a = "the quick brown fox jumps over the lazy dog near the river today"
    val b = "the quick brown fox jumps over the lazy dog near the river tonight"
    val c = "completely different content about database engines and planners"
    val heavy = Seq(
      (10L, a), (11L, a), (17L, a), (23L, a),
      (12L, b), (19L, b), (31L, b),
      (14L, c)).toDF("doc_id", "text")
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val viaPairs = labelsOf(Dedup.connectedComponents(
      heavy.select(col("doc_id")),
      Dedup.ngramJaccardPairsIndexed(heavy, "text", "doc_id", n = 3, threshold = 0.5)))
    val viaStar = labelsOf(
      Dedup.ngramJaccardComponents(heavy, "text", "doc_id", n = 3, threshold = 0.5))
    assert(viaStar === viaPairs)
    // and the labels are the transitive closure: every a/b doc joins the
    // min-id cluster 10 through the a~b near-dup edge; c is a singleton
    assert(viaStar(31L) === (10L, true))
    assert(viaStar(14L) === (14L, false))
  }

  test("collapse-first minhash/simhash cluster views equal the expanded-pair one-hop model") {
    import spark.implicits._
    // dup groups of size 4/3/1 with a cross-group near-dup link — the
    // shape whose expanded pair list grows quadratically with group size
    val a = "the quick brown fox jumps over the lazy dog near the wide river bank today ok"
    val b = "the quick brown fox jumps over the lazy dog near the wide river bank tonight ok"
    val c = "completely different content about database engines and query planners overall"
    val heavy = Seq(
      (10L, a), (11L, a), (17L, a), (23L, a),
      (12L, b), (19L, b), (31L, b),
      (14L, c)).toDF("doc_id", "text")
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val mhModel = labelsOf(Dedup.clustersFromPairs(heavy, "doc_id",
      Dedup.minhashPairsPortable(heavy, "text", "doc_id")))
    val mhFast = labelsOf(Dedup.minhashClustersPortable(heavy, "text", "doc_id"))
    assert(mhFast === mhModel)
    val shModel = labelsOf(Dedup.clustersFromPairs(heavy, "doc_id",
      Dedup.simhashPairs(heavy, "text", "doc_id")))
    val shFast = labelsOf(Dedup.simhashClusters(heavy, "text", "doc_id"))
    assert(shFast === shModel)
    // sanity on the expected structure: every a/b doc is one-hop labeled
    // (a near-dups b, so all members point at 10 or the b-group min 12)
    assert(mhFast(11L) === (10L, true))
    assert(mhFast(14L) === (14L, false))
  }

  test("chunking covers every token, respects overlap, and handles short docs") {
    import spark.implicits._
    val doc = (1L, (1 to 10).map(i => s"t$i").mkString(" "))
    val short = (2L, "a b c")
    val in = Seq(doc, short).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(in, "text", "doc_id", chunkSize = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(c => (c._1, c._2))
    val d1 = chunks.filter(_._1 == 1L).map(_._3)
    // starts advance by 2: 0,2,4,6 — the last window is the 4-token tail
    assert(d1 === Array("t1 t2 t3 t4", "t3 t4 t5 t6", "t5 t6 t7 t8", "t7 t8 t9 t10"))
    // every token appears in some chunk
    assert((1 to 10).forall(i => d1.exists(_.split(" ").contains(s"t$i"))))
    // shorter-than-chunk doc → exactly one (short) chunk
    assert(chunks.filter(_._1 == 2L).map(_._3) === Array("a b c"))
    // no overlap: disjoint cover
    val noOv = TextAnalysis.chunk(in, "text", "doc_id", chunkSize = 5)
      .filter(col("doc_id") === 1L).collect().map(_.getString(2))
    assert(noOv === Array("t1 t2 t3 t4 t5", "t6 t7 t8 t9 t10"))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunk(in, "text", "doc_id", chunkSize = 4, overlap = 4)
    }
  }

  test("chunking matches the window model across sizes and overlaps (property)") {
    import spark.implicits._
    // 40 docs of 0..39 tokens, checked against a pure-Scala window model
    // for six (chunkSize, overlap) combos incl. degenerate ones
    val docs = (0 until 40)
      .map(i => (i.toLong, (1 to i).map(t => s"w$t").mkString(" "))).toDF("doc_id", "text")
    for ((c, o) <- Seq((1, 0), (2, 1), (4, 0), (4, 2), (7, 3), (64, 8))) {
      val got = TextAnalysis.chunk(docs, "text", "doc_id", c, o).collect()
        .groupBy(_.getLong(0))
        .map { case (k, rs) => k -> rs.sortBy(_.getInt(1)).map(_.getString(2)).toSeq }
      for (i <- 0 until 40) {
        val toks = if (i == 0) Seq("") else (1 to i).map(t => s"w$t") // split("") = [""]
        val step = c - o
        val nChunks = math.max(math.ceil((toks.size - c).toDouble / step), 0).toInt + 1
        val expect = (0 until nChunks).map(j => toks.slice(j * step, j * step + c).mkString(" "))
        assert(got(i.toLong) === expect, s"chunkSize=$c overlap=$o nTokens=$i")
      }
    }
  }

  test("vocabulary counts match a pure-Scala model over a generated corpus (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("alpha", "beta", "gamma", "delta", "x1", "xy'z")
    val corpus = (1 to 60).map(i =>
      (i.toLong, (0 until rnd.nextInt(20)).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" ")))
    val expected = corpus.flatMap(_._2.toLowerCase.split("[^a-z0-9']+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    val got = TextAnalysis.vocabulary(corpus.toDF("doc_id", "text"), "text", 1000)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === expected)
    // ranking invariant: frequencies non-increasing, ties broken by token
    val ranked = TextAnalysis.vocabulary(corpus.toDF("doc_id", "text"), "text", 1000)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ranked.sliding(2).forall {
      case Seq((t1, f1), (t2, f2)) => f1 > f2 || (f1 == f2 && t1 < t2)
      case _ => true
    })
  }

  test("packByBudget assigns contiguous batches that respect the exclusive-prefix rule") {
    import spark.implicits._
    // token counts 100,100,100,60,200 under budget 256, one group:
    // exclusive prefix sums 0,100,200,300,360 → batches 0,0,0,1,1
    val in = Seq(
      ("g", 1, 100), ("g", 2, 100), ("g", 3, 100), ("g", 4, 60), ("g", 5, 200),
      ("h", 1, 300) // other group packs independently, oversized chunk still batch 0
    ).toDF("grp", "ord", "n")
    val got = TextAnalysis.packByBudget(in, "n", Seq("grp"), Seq("ord"), 256)
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(3))).toMap
    assert(got(("g", 1)) === 0L && got(("g", 2)) === 0L && got(("g", 3)) === 0L)
    assert(got(("g", 4)) === 1L && got(("g", 5)) === 1L)
    assert(got(("h", 1)) === 0L)
    // batches are contiguous in order: batch ids are non-decreasing
    val seqG = TextAnalysis.packByBudget(in, "n", Seq("grp"), Seq("ord"), 256)
      .filter(col("grp") === "g").orderBy("ord").collect().map(_.getLong(3)).toSeq
    assert(seqG === seqG.sorted)
    intercept[IllegalArgumentException] {
      TextAnalysis.packByBudget(in, "n", Seq("grp"), Seq("ord"), 0)
    }
  }

  test("vocabulary ranks tokens by frequency with deterministic tie-break") {
    import spark.implicits._
    val in = Seq((1L, "aa bb aa cc bb aa"), (2L, "bb cc dd, CC!")).toDF("doc_id", "text")
    val top = TextAnalysis.vocabulary(in, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // aa:3, bb:3 (tie → alpha), cc:3 (lowercased + punctuation split)
    assert(top === Seq(("aa", 3L), ("bb", 3L), ("cc", 3L)))
  }

  test("scrub replaces urls and emails, leaves clean text alone") {
    import spark.implicits._
    val in = Seq(
      "see http://x.example/a?b=1 and mail bob.smith+x@corp.example.org now",
      "nothing to remove here").toDF("text")
    val out = in.select(TextAnalysis.scrub(col("text")).as("t"))
      .collect().map(_.getString(0))
    assert(out(0) === "see <scrubbed> and mail <scrubbed> now")
    assert(out(1) === "nothing to remove here")
  }

  test("stratified sampling keeps per-stratum proportions and drops unmapped strata") {
    import spark.implicits._
    val in = (1 to 3000).map(i =>
      (s"doc body $i", if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "xx"))
      .toDF("text", "lang")
    val rates = Map("en" -> "80", "de" -> "20") // ~50% and ~12.5%
    val kept = in.filter(TextAnalysis.sampleStratified(col("text"), col("lang"), rates))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!kept.contains("xx")) // unmapped stratum keeps nothing
    assert(kept("en") > 1000 * 0.40 && kept("en") < 1000 * 0.60)
    assert(kept("de") > 1000 * 0.06 && kept("de") < 1000 * 0.19)
    // subset property: the stratified sample of a stratum is exactly the
    // flat sample at that stratum's rate (same hash, same threshold)
    val flat = in.filter(col("lang") === "de")
      .filter(TextAnalysis.sampleByFingerprint(col("text"), "20"))
      .select("text").collect().map(_.getString(0)).toSet
    val strat = in.filter(TextAnalysis.sampleStratified(col("text"), col("lang"), rates))
      .filter(col("lang") === "de")
      .select("text").collect().map(_.getString(0)).toSet
    assert(strat === flat)
  }

  test("fingerprint sampling is deterministic and roughly proportional") {
    import spark.implicits._
    val in = (1 to 2000).map(i => s"document body number $i").toDF("text")
    val kept = in.filter(TextAnalysis.sampleByFingerprint(col("text"), "14")).count()
    // "14" hex = 20/256 ≈ 7.8%; md5 uniformity puts 2000 draws well within ±4%
    assert(kept > 2000 * 0.04 && kept < 2000 * 0.12)
    // deterministic: the same filter selects the same rows
    val again = in.filter(TextAnalysis.sampleByFingerprint(col("text"), "14")).count()
    assert(again === kept)
  }

  test("exact cosine near-dup pairs agree with the cosine expression; LSH variant is a subset") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.2f)),
      (2L, Array(0.9f, 0.05f, 0.2f)),  // near-dup of 1
      (3L, Array(-1.0f, 0.5f, 0.0f)),
      (4L, Array(1.0f, 0.0f, 0.2f))    // exact dup of 1
    ).toDF("vec_id", "embedding")
    val exact = Similarity.cosineNearDupPairsExact(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((1L, 4L)) && exact.contains((1L, 2L)) && exact.contains((2L, 4L)))
    assert(!exact.exists { case (a, b) => a == 3L || b == 3L })
    // bucketed variant can only shrink the pair set (candidates ⊆ all pairs)
    val bucketed = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.95, dims = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.subsetOf(exact))
  }

  test("portable (md5) minhash finds the same dup structure as the xxhash family") {
    val pairs = Dedup.minhashPairsPortable(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup
    assert(pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
    val clusters = Dedup.minhashClustersPortable(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(clusters(4L) === (1L, true))
    assert(clusters(2L) === (1L, true))
    assert(clusters(3L) === (3L, false))
  }

  test("portable simhash/fingerprint match an independent JVM md5 reference") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def refSimhashHex(text: String): String = {
      val votes = Array.fill(64)(0)
      for (t <- text.trim.toLowerCase.split("\\s+")) {
        val hex = md5hex(t).take(16)
        for (b <- 0 until 64) {
          val v = Integer.parseInt(hex(b / 4).toString, 16)
          votes(b) += (if (((v >> (3 - b % 4)) & 1) == 1) 1 else -1)
        }
      }
      (0 until 16).map { j =>
        val d = (0 until 4).map(m => if (votes(j * 4 + m) >= 0) 1 << (3 - m) else 0).sum
        "0123456789abcdef"(d)
      }.mkString
    }
    def refFpHex(text: String): String =
      md5hex(text.trim.toLowerCase.replaceAll("\\s+", " ")).take(16)

    val got = docs.select(col("doc_id"), TextAnalysis.fingerprintHex(col("text")).as("fp"))
      .join(TextAnalysis.simhashHexTable(docs, "text", "doc_id"), Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, text) <- texts) {
      assert(got(id)._1 === refFpHex(text), s"fp_hex mismatch for doc $id")
      assert(got(id)._2 === refSimhashHex(text), s"simhash_hex mismatch for doc $id")
    }
    // identical text → identical simhash; near-dup stays within a few bits
    def ham(a: String, b: String): Int = a.zip(b).map { case (x, y) =>
      Integer.bitCount(Integer.parseInt(x.toString, 16) ^ Integer.parseInt(y.toString, 16))
    }.sum
    assert(got(1L)._2 === got(4L)._2)
    assert(ham(got(1L)._2, got(2L)._2) <= 12)
  }

  test("multimodal stub codec features are md5-derived and externally re-derivable") {
    // md5("hello") = 5d41402a... → every prefix feature = 0x5 / 16
    val f = Multimodal.FakeCodec.decode("hello".getBytes("UTF-8"))
    assert(f.toSeq === Seq.fill(8)(0.3125f))
    // a text longer than one prefix step gets distinct per-step features
    val long = ("word " * 40).trim // 199 chars → prefixes 64/128/192/199...
    val fl = Multimodal.FakeCodec.decode(long.getBytes("UTF-8"))
    def expected(nChars: Int): Float = {
      val prefix = long.substring(0, math.min(long.length, nChars))
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(prefix.getBytes("UTF-8"))
      (((d(0) >> 4) & 0xf) / 16.0).toFloat
    }
    for (i <- 0 until 8) assert(fl(i) === expected(64 * (i + 1)), s"feature $i")
  }

  test("boilerplate-line removal drops corpus-frequent lines, keeps order") {
    import spark.implicits._
    val corpus = (1 to 40).map { i =>
      (i.toLong, s"unique opening $i\nshared footer\nbody text $i" +
        (if (i <= 5) "\nrare notice" else ""))
    }.toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(corpus, "text", "doc_id", minDocFreq = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // 'shared footer' (df=40) removed everywhere; 'rare notice' (df=5) kept
    assert(out(1L) === ((4L, 3L, "unique opening 1\nbody text 1\nrare notice")))
    assert(out(6L) === ((3L, 2L, "unique opening 6\nbody text 6")))
    assert(out.size === 40)
    // a fully-boilerplate doc keeps zero lines and empty text
    val allBoiler = corpus.union(Seq((99L, "shared footer")).toDF("doc_id", "text"))
    val out99 = Dedup.removeBoilerplateLines(allBoiler, "text", "doc_id", minDocFreq = 10)
      .filter(col("doc_id") === 99L).collect()(0)
    assert(out99.getLong(1) === 1L && out99.getLong(2) === 0L && out99.getString(3) === "")
  }

  test("repetition metrics match hand-computed values") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b\na b\nc d"),            // 3 lines, 1 dup; 2-gram 'a b' x2 of 6 toks
      (2L, "x y z\nw v u")              // no dups; all 2-grams distinct
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (n1, dlf1, dlcf1, tg1) = m(1L)
    assert(n1 === 3L)
    assert(math.abs(dlf1 - 1.0 / 3) < 1e-12)          // 3 lines, 2 distinct
    assert(math.abs(dlcf1 - 3.0 / 9) < 1e-12)         // one extra 'a b' (3 of 9 chars)
    // tokens: a b a b c d = 6; 2-grams (cross-line): 'a b','b a','a b','b c','c d'
    // top = 'a b' x2 -> 2*2/6
    assert(math.abs(tg1 - 4.0 / 6) < 1e-12)
    val (n2, dlf2, _, tg2) = m(2L)
    assert(n2 === 2L && dlf2 === 0.0)
    assert(math.abs(tg2 - 2.0 / 6) < 1e-12)           // all 2-grams unique
  }

  test("ngram contamination flags benchmark overlap, skips clean docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),       // shares 3-grams with bench
      (2L, "totally unrelated words here now friends"),  // clean
      (3L, "alpha beta gamma delta nothing else")        // partial overlap
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val out = Dedup.ngramContamination(corpus, bench, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) === ((4L, 4L, 1.0)))        // all 4 trigram positions overlap
    assert(!out.contains(2L))                  // clean doc not reported
    val (g3, c3, f3) = out(3L)
    assert(g3 === 4L && c3 === 2L && math.abs(f3 - 0.5) < 1e-12)
  }

  test("weighted mix replicates strata toward their weights, deterministically") {
    import spark.implicits._
    val corpus = (1 to 1000).map(i =>
      (i.toLong, s"doc body $i", if (i % 2 == 0) "up" else "down")).toDF("doc_id", "text", "lang")
    val mixed = TextAnalysis.mixByWeight(corpus, "text", "lang",
      Map("up" -> 2.5, "down" -> 0.3))
    val counts = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // up: 500 docs x (2 full + ~50% fractional) -> ~1250; down: ~150
    assert(counts("up") >= 1100 && counts("up") <= 1400, s"up=${counts("up")}")
    assert(counts("down") >= 100 && counts("down") <= 200, s"down=${counts("down")}")
    // deterministic rerun
    val again = TextAnalysis.mixByWeight(corpus, "text", "lang",
      Map("up" -> 2.5, "down" -> 0.3)).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === counts)
    // full copies present for every 'up' doc; unmapped strata would drop
    val upCopies = mixed.filter(col("lang") === "up").groupBy("doc_id").count()
    assert(upCopies.agg(min(col("count"))).collect()(0).getLong(0) >= 2L)
  }

  test("quantile filter keeps strictly-above-cutoff rows per stratum") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L, 0.1), ("a", 2L, 0.2), ("a", 3L, 0.3), ("a", 4L, 0.4), // median 0.25
      ("b", 5L, 1.0), ("b", 6L, 2.0), ("b", 7L, 3.0)                  // median 2.0
    ).toDF("lang", "doc_id", "v")
    val kept = TextAnalysis.keepAboveQuantile(rows, "v", "lang", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L, 4L, 7L)) // strict >: 2.0 itself is dropped
  }

  test("leakage-safe split keeps whole dup clusters on one side") {
    val clusters = Dedup.minhashClustersPortable(docs, "text", "doc_id", threshold = 0.5)
    val split = Dedup.splitByCluster(clusters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(3))).toMap
    // 1, 2, 4 are one near-dup cluster (rep 1): identical split membership
    assert(split(1L)._2 === split(2L)._2 && split(1L)._2 === split(4L)._2)
    assert(Set("train", "val").contains(split(3L)._2))
    // deterministic re-run
    val again = Dedup.splitByCluster(clusters)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(again === split.view.mapValues(_._2).toMap)
  }

  test("ANN entries pin recall_at_k at the driver scale factors") {
    import graft.queries.LlmOps
    def meanRecall(dir: String, which: String): Double = {
      val rows = LlmOps.annRecallByQuery(spark, dir, which).collect()
      rows.map(_.getDouble(1)).sum / rows.length
    }
    val eps = 1e-9
    // Pinned measurements (recall@3, 10 queries, defaults documented in
    // LlmOps): a bucketing/re-rank/candidate regression moves these.
    assert(math.abs(meanRecall("/root/testdata/sf0.001", "lsh") - 18.0 / 30) < eps)
    assert(math.abs(meanRecall("/root/testdata/sf0.01", "lsh") - 14.0 / 30) < eps)
    // r12 auto-sizing (nCentroids ≈ sqrt(corpus), probe fraction 1/3):
    // 22->26 at sf0.001, 27 unchanged at sf0.01; 22 at sf0.1, where the
    // gated entry's 0.55 bar holds with margin
    assert(math.abs(meanRecall("/root/testdata/sf0.001", "ivf") - 26.0 / 30) < eps)
    assert(math.abs(meanRecall("/root/testdata/sf0.01", "ivf") - 27.0 / 30) < eps)
    // quantized-scan + exact-re-rank: recall 1.0 at both gate scales
    // (the 8x-oversampled approximate front never loses a true top-3
    // under ~1e-3 quantization error — SimilarityQ8Spec pins id equality)
    assert(math.abs(meanRecall("/root/testdata/sf0.001", "q8") - 1.0) < eps)
    assert(math.abs(meanRecall("/root/testdata/sf0.01", "q8") - 1.0) < eps)
    // The driver entries band these measurements: recall_ok must be TRUE
    // on every row at both gate scales (the oracle pins literal TRUE).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         fn <- Seq(LlmOps.qSimSearchLsh _, LlmOps.qSimSearchIvf _)) {
      val flags = fn(spark, dir).select(col("recall_ok")).distinct().collect()
      assert(flags.map(_.getBoolean(0)).toSeq === Seq(true))
    }
    // ... and the flag is not vacuously true: an unreachable bar flips it
    // FALSE on every row, so a regression in the gate plumbing itself
    // (not just in ANN recall) would also surface.
    val inverted = LlmOps.annGatedExact(spark, "/root/testdata/sf0.001", "lsh",
        threshold = 1.01)
      .select(col("recall_ok")).distinct().collect()
    assert(inverted.map(_.getBoolean(0)).toSeq === Seq(false))
  }

  test("hammingHex64 matches bit-level ground truth on known fingerprints") {
    import spark.implicits._
    val cases = Seq( // (a, b, expected popcount of xor)
      ("deadbeefdeadbeef", "deadbeefdeadbeef", 0),
      ("deadbeefdeadbeef", "deadbeefdeadbeee", 1),
      ("deadbeefdeadbeef", "0000000000000000", 48),
      ("deadbeefdeadbeef", "ffffffffffffffff", 16),
      ("0000000000000000", "ffffffffffffffff", 64))
    val got = cases.toDF("a", "b", "want")
      .withColumn("got", TextAnalysis.hammingHex64(col("a"), col("b")))
      .collect()
    got.foreach(r => assert(r.getAs[Int]("got") === r.getAs[Int]("want"),
      s"${r.getAs[String]("a")} vs ${r.getAs[String]("b")}"))
  }

  test("simhash dedup: banded candidates reproduce brute-force all-pairs hamming") {
    // The banding claim is pigeonhole completeness (bands > maxHamming ⇒
    // every pair within the cutoff collides in some band). Compare the
    // operator against a direct all-pairs hamming join over the same
    // fingerprints on a corpus with exact dups, near-dups and uniques.
    val dir = "/root/testdata/sf0.001"
    val base = graft.Tables.load(spark, dir, "documents")
    val corpus = base.select(col("doc_id"), col("text"))
      .unionByName(base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" simdup probe tail")).as("text")))
    val banded = Dedup.simhashPairs(corpus, "text", "doc_id")
      .select("id_a", "id_b", "hamming")
    val fps = TextAnalysis.simhashHexTable(corpus, "text", "doc_id")
    val brute = fps.as("a").join(fps.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        TextAnalysis.hammingHex64(col("a.simhash_hex"), col("b.simhash_hex")))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("hamming"))
    assert(banded.exceptAll(brute).count() === 0)
    assert(brute.exceptAll(banded).count() === 0)
    assert(banded.count() > 0) // the planted exact copies guarantee pairs
  }

  test("simhash clusters: exact copies point at the original as representative") {
    import spark.implicits._
    val tiny = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact
      (30L, "utterly unrelated content on a different topic entirely somewhere")
    ).toDF("doc_id", "text")
    val out = Dedup.simhashClusters(tiny, "text", "doc_id")
      .orderBy(col("doc_id")).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ===
      Seq((10L, 10L, false), (20L, 10L, true), (30L, 30L, false)))
  }

  test("e2e pipeline: stage contracts hold through the composed chain (sf0.001)") {
    // The driver hash-checks q_pipeline_e2e's final aggregate; this pins
    // the CROSS-STAGE contracts the aggregate alone can't show. Rebuild
    // the intermediate stages with the same operators the entry chains:
    import graft.queries.LlmOps
    val dir = "/root/testdata/sf0.001"
    val raw = graft.Tables.load(spark, dir, "documents")
    val cleaned = raw.select(col("doc_id"), col("lang"),
      TextAnalysis.scrub(concat(col("text"),
        lit(" contact admin@mail.example.com or see https://ex.example/home"))).as("clean"))
    val kept = TextAnalysis.keepAboveQuantile(
      cleaned.withColumn("stop_ratio", TextAnalysis.stopwordRatio(col("clean"))),
      "stop_ratio", "lang", 0.5)
    val survivors = kept.join(
      kept.groupBy(md5(col("clean")).as("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    val reps = Dedup.minhashClustersPortable(survivors, "clean", "doc_id")
      .filter(!col("is_dup"))

    // 1. scrub fired on every row (the constant contaminant guarantees it)
    assert(cleaned.filter(!col("clean").contains("<scrubbed>")).count() === 0)
    // 2. the quality gate dropped rows but not everything
    val (nRaw, nKept) = (raw.count(), kept.count())
    assert(nKept > 0 && nKept < nRaw)
    // 3. exact dedup left survivors unique by content hash
    assert(survivors.select(md5(col("clean"))).distinct().count() === survivors.count())
    // 4. near-dup dedup is a fixpoint: no verified pair survives among reps
    val repDocs = survivors.join(reps.select(col("doc_id")), Seq("doc_id"), "left_semi")
    assert(Dedup.minhashPairsPortable(repDocs, "clean", "doc_id").count() === 0)
    // 5. the entry's aggregate reconciles with the rebuilt rep set
    val out = LlmOps.qPipelineE2e(spark, dir).collect()
    assert(out.map(_.getAs[String]("split")).toSeq.sorted === Seq("train", "val"))
    assert(out.map(_.getAs[Long]("n_docs")).sum === reps.count())
    assert(out.map(_.getAs[Long]("id_checksum")).sum ===
      reps.agg(sum(col("doc_id"))).collect()(0).getLong(0))
  }

  test("exact-substring spans: cross-doc, within-doc, and exact-copy duplication; span merge") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7"),                // fully unique -> absent
      (2L, "x1 x2 x3 x4 x5 u1 u2"),                // shares x1..x5 with doc 3
      (3L, "y0 x1 x2 x3 x4 x5 z9"),                // shares x1..x5 with doc 2
      (4L, "r1 r2 r3 q1 r1 r2 r3"),                // within-doc repeat of r1 r2 r3
      (5L, "s1 s2 s3 s4"),                         // exact copy of 6
      (6L, "s1 s2 s3 s4")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringSpans(corpus, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6))).toMap
    assert(!got.contains(1L), "unique doc must not be emitted")
    // docs 2/3: windows at the three positions covering x1..x5 merge into
    // ONE 5-token span (7 tokens, 5 windows each)
    assert(got(2L) === ((7, 5L, 3L, 1L, 5L, 5.0 / 7)))
    assert(got(3L) === ((7, 5L, 3L, 1L, 5L, 5.0 / 7)))
    // doc 4: "r1 r2 r3" occurs twice WITHIN the doc -> two disjoint
    // 3-token spans (positions 0 and 4), middle windows unique
    assert(got(4L) === ((7, 5L, 2L, 2L, 6L, 6.0 / 7)))
    // docs 5/6: exact copies -> every window shared via the copy weight,
    // one span covering the whole 4-token text
    assert(got(5L) === ((4, 2L, 2L, 1L, 4L, 1.0)))
    assert(got(6L) === ((4, 2L, 2L, 1L, 4L, 1.0)))
  }

  test("exact-substring spans: fraction bounds and window accounting on the real corpus") {
    val real = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val out = Dedup.exactSubstringSpans(real, "text", "doc_id", k = 5)
    val rows = out.collect()
    assert(rows.nonEmpty, "sf0.001 corpus has injected dups — expected hits")
    rows.foreach { r =>
      val (nTok, nWin, nDupW, nSpans, dupTok, frac) =
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(nDupW <= nWin && nSpans <= nDupW && nSpans >= 1)
      assert(dupTok <= nTok && frac > 0.0 && frac <= 1.0)
      // each span covers at least k tokens unless truncated by doc end
      assert(dupTok >= nSpans * math.min(5, nTok))
    }
  }
}
