package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `lshTopK` with one table ranks its scored pairs without the
  * (query_id, cand_id) dedup aggregate: the bucket join cannot repeat a pair
  * there, so the result must equal, row for row, the deduplicating form the
  * operator had before. With several tables the aggregate stays. */
class LshTopKSpec extends SparkSpec {

  private val dims = 64
  private val planes = 6

  private def embeddings(sf: String): (DataFrame, DataFrame) = {
    val emb = graft.Tables.load(spark, s"/root/testdata/$sf", "embeddings")
    (emb.filter(col("vec_id") < 10), emb.filter(col("vec_id") >= 10))
  }

  /** One-table LSH top-k written out with the dedup aggregate and a
    * `row_number` rank: the candidate buckets, (query_id, cand_id) dedup by
    * max(sim), then `rnk` ordered by sim descending and cand_id ascending. */
  private def deduplicating(queries: DataFrame, corpus: DataFrame, k: Int,
      multiProbe: Boolean): DataFrame = {
    val thrs = Similarity.planeThresholds(Similarity.dimMeans(corpus, "embedding"), planes, dims, 0)
    val own = Similarity.lshBucket(col("embedding"), planes, dims, 0, thrs)
    val probes =
      if (multiProbe) own +: (0 until planes).map(p => own.bitwiseXOR(lit(1L << p))) else Seq(own)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      explode(array(probes: _*)).as("bucket"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"), own.as("bucket"))
    c.join(q, Seq("bucket"))
      .withColumn("sim", Similarity.cosine(col("qv"), col("cv")))
      .groupBy(col("query_id"), col("cand_id")).agg(max(col("sim")).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)))
      .filter(col("rnk") <= k)
  }

  /** (query_id, rnk, cand_id, sim bits), sorted. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select(col("query_id"), col("rnk").cast("long"), col("cand_id"), col("sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .toSeq.sorted

  /** Aggregates of `df`'s optimized plan grouped on exactly (query_id, cand_id). */
  private def pairAggregates(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.groupingExpressions.flatMap(_.references.map(_.name)).toSet ==
          Set("query_id", "cand_id") => a
    }.size

  for (sf <- Seq("sf0.001", "sf0.1"); multiProbe <- Seq(true, false)) {
    test(s"one table without the dedup equals the deduplicating form ($sf, multiProbe=$multiProbe)") {
      val (queries, corpus) = embeddings(sf)
      val k = 10
      val got = rows(Similarity.lshTopK(queries, corpus, "vec_id", "embedding", k,
        planes = planes, dims = dims, multiProbe = multiProbe))
      assert(got.nonEmpty)
      assert(got === rows(deduplicating(queries, corpus, k, multiProbe)))
    }
  }

  test("the (query_id, cand_id) aggregate is planned only with several tables") {
    val (queries, corpus) = embeddings("sf0.001")
    def search(tables: Int, multiProbe: Boolean) = Similarity.lshTopK(queries, corpus,
      "vec_id", "embedding", 3, multiProbe = multiProbe, tables = tables)
    assert(pairAggregates(search(1, multiProbe = true)) === 0)
    assert(pairAggregates(search(1, multiProbe = false)) === 0)
    assert(pairAggregates(search(4, multiProbe = true)) === 1)
    // the reference form above does plan it, so the check can see one
    assert(pairAggregates(deduplicating(queries, corpus, 3, multiProbe = true)) === 1)
  }
}
