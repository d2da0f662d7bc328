package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Similarity.lshBucket` builds each hyperplane as one array literal, and
  * `lshTopK` projects each query's own bucket once and XORs it for the
  * hamming-1 probes. Both are checked against the per-element-literal
  * composition they replaced ([[LshBucketSpec.Reference]]), bucket for
  * bucket and row for row, and the search's plan size is pinned so that a
  * return to per-element literals fails. */
class LshBucketSpec extends SparkSpec {
  import LshBucketSpec.Reference

  private val dims = 64
  private val planes = 6
  private val sfDir = "perfbench/data/sf0.1"

  private lazy val corpus: DataFrame = graft.Tables.load(spark, sfDir, "embeddings")

  private lazy val corpusThresholds: Int => Seq[Double] = {
    val mean = Similarity.dimMeans(corpus, "embedding")
    t => Reference.thresholds(mean, planes, dims, t)
  }

  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", ArrayType(FloatType, containsNull = true), nullable = true)))

  private def vectors(rows: Seq[(Long, Seq[java.lang.Float])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }, 2), vecSchema)

  /** (id, bucket, reference bucket) of each (id, v) row for `table`. */
  private def bothBuckets(vecs: DataFrame, table: Int,
      thresholds: Seq[Double]): Seq[(Long, Long, Long)] =
    vecs.select(col("id"),
        Similarity.lshBucket(col("v"), planes, dims, table, thresholds),
        Reference.lshBucket(col("v"), planes, dims, table, thresholds))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def assertSameBuckets(vecs: DataFrame, thresholds: Int => Seq[Double]): Unit =
    for (t <- 0 to 1) {
      val got = bothBuckets(vecs, t, thresholds(t))
      assert(got.size === vecs.count())
      val diff = got.filter { case (_, b, r) => b != r }
      assert(diff.size === 0, s"table $t: buckets differ, first ${diff.take(3)}")
    }

  test("lshBucket equals the per-element-literal reference on the sf0.1 embeddings") {
    assertSameBuckets(corpus.select(col("vec_id").as("id"), col("embedding").as("v")),
      corpusThresholds)
  }

  test("lshBucket equals the reference on seeded random vectors and edge values") {
    val rnd = new scala.util.Random(8801)
    val random = (0 until 300).map { i =>
      (i.toLong, Seq.fill(dims)(java.lang.Float.valueOf((0.05 + rnd.nextGaussian() * 0.1).toFloat)))
    }
    def all(x: Float): Seq[java.lang.Float] = Seq.fill(dims)(java.lang.Float.valueOf(x))
    val base = random.head._2
    val edges = Seq[Seq[java.lang.Float]](
      null,
      base.updated(7, null),
      base.updated(11, java.lang.Float.valueOf(Float.NaN)),
      all(Float.NaN),
      base.updated(3, java.lang.Float.valueOf(Float.PositiveInfinity)),
      all(0.0f),
      all(-0.0f),
      Seq.tabulate(dims)(d => java.lang.Float.valueOf(if (d % 3 == 0) -0.0f else 0.0f)),
      base.take(dims - 1))
    val vecs = vectors(random ++ edges.zipWithIndex.map { case (v, i) => (1000L + i, v) })
    assertSameBuckets(vecs, corpusThresholds)
    // uncentered (threshold 0.0): ±0.0 dot products sit exactly on it
    assertSameBuckets(vecs, _ => Nil)
  }

  test("a dot product equal to its threshold sets the bit, as in the reference (>= edge)") {
    val rnd = new scala.util.Random(8802)
    val v = Seq.fill(dims)(java.lang.Float.valueOf(rnd.nextGaussian().toFloat))
    val vecs = vectors(Seq((1L, v)))
    for (t <- 0 to 1) {
      // each plane's dot product, computed by the same kernel the bucket uses
      val dots = (0 until planes).map { p =>
        vecs.select(Similarity.dot(col("v"),
          typedLit(Reference.weights(t * planes + p, dims)))).head().getDouble(0)
      }
      val offset = t.toLong << planes
      val atEdge = bothBuckets(vecs, t, dots).head
      assert(atEdge === ((1L, offset + (1L << planes) - 1, offset + (1L << planes) - 1)))
      val above = bothBuckets(vecs, t, dots.map(d => Math.nextUp(d))).head
      assert(above === ((1L, offset, offset)))
    }
  }

  /** (query_id, rnk, cand_id, sim bits), sorted. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select(col("query_id"), col("rnk").cast("long"), col("cand_id"), col("sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .toSeq.sorted

  for ((multiProbe, tables) <- Seq((true, 1), (false, 1), (true, 4))) {
    test(s"lshTopK returns the reference's rows (multiProbe=$multiProbe, tables=$tables)") {
      val queries = corpus.filter(col("vec_id") < 10)
      val cands = corpus.filter(col("vec_id") >= 10)
      val k = 10
      val got = rows(Similarity.lshTopK(queries, cands, "vec_id", "embedding", k,
        planes = planes, dims = dims, multiProbe = multiProbe, tables = tables))
      assert(got.nonEmpty)
      assert(got === rows(Reference.lshTopK(queries, cands, k, planes, dims, multiProbe, tables)))
    }
  }

  /** Expression nodes over every operator of `df`'s analyzed plan. */
  private def expressionNodes(df: DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case n => n.expressions.map(_.collect { case e => e }.size).sum
    }.sum

  test("q_sim_search_lsh's analyzed plan stays small") {
    val n = expressionNodes(SparkEntry.queries("q_sim_search_lsh")(spark, sfDir))
    info(s"$n expression nodes")
    // one literal per plane: a few hundred nodes; 64 literals per plane
    // with the own bucket re-derived for each probe: several thousand
    assert(n <= 600, s"$n expression nodes")
  }
}

object LshBucketSpec {

  /** The per-element-literal composition `lshBucket` and `lshTopK`
    * replaced, kept as the differential reference. The weights are derived
    * here from the hash, not read from `Similarity`. */
  object Reference {
    def weights(p: Int, dims: Int): Seq[Double] =
      (0 until dims).map { d =>
        val h = graft.functions.FnvHash64.hashLongBits((p.toLong << 32) | d.toLong, 8)
        if ((h & 1L) == 0L) 1.0 else -1.0
      }

    def thresholds(mean: Array[Double], planes: Int, dims: Int, table: Int): Seq[Double] =
      (0 until planes).map { p =>
        weights(table * planes + p, dims).zip(mean).map { case (a, b) => a * b }.sum
      }

    def lshBucket(vec: Column, planes: Int, dims: Int, table: Int,
        thresholds: Seq[Double]): Column = {
      val signBits = (0 until planes).map { p =>
        val w = array(weights(table * planes + p, dims).map(lit): _*)
        val thr = if (thresholds.isEmpty) 0.0 else thresholds(p)
        when(Similarity.dot(vec, w) >= thr, lit(1L << p)).otherwise(lit(0L))
      }
      (lit(table.toLong << planes) +: signBits).reduce(_ + _)
    }

    /** Every probe re-derives the own bucket; pairs dedup by max(sim) and
      * rank by `row_number` (sim descending, cand_id ascending). */
    def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int, dims: Int,
        multiProbe: Boolean, tables: Int): DataFrame = {
      val mean = Similarity.dimMeans(corpus, "embedding")
      val thrs = (0 until tables).map(t => thresholds(mean, planes, dims, t))
      def bucket(t: Int) = lshBucket(col("embedding"), planes, dims, t, thrs(t))
      val probes = (0 until tables).flatMap { t =>
        if (multiProbe) bucket(t) +: (0 until planes).map(p => bucket(t).bitwiseXOR(lit(1L << p)))
        else Seq(bucket(t))
      }
      val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(array(probes: _*)).as("bucket"))
      val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
        explode(array((0 until tables).map(bucket): _*)).as("bucket"))
      c.join(q, Seq("bucket"))
        .select(col("query_id"), col("cand_id"), Similarity.cosine(col("qv"), col("cv")).as("sim"))
        .groupBy(col("query_id"), col("cand_id")).agg(max(col("sim")).as("sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)))
        .filter(col("rnk") <= k)
    }
  }
}
