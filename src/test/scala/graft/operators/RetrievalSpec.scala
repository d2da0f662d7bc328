package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 top-k — binding properties: the score formula against a
  * hand-derivable reference computation, partitioning invariance of the
  * decimal-summed scores (the whole point of the decimal routing), rank
  * semantics (score desc, doc_id asc), and the bounded-front plan. */
class RetrievalSpec extends SparkSpec {

  private def refScore(terms: Seq[(Long, Int)], n: Long, dfs: Map[String, Long],
      tfs: Seq[(String, Long)], dl: Int, avgdl: Double): BigDecimal =
    tfs.map { case (t, tf) =>
      val idf = math.log(1.0 + ((n - dfs(t)) + 0.5) / (dfs(t) + 0.5))
      val w = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      BigDecimal(idf * w).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum

  test("matches a hand-computed BM25 reference on a three-document corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple apple apple apple")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, "text", "doc_id", Seq(1 -> "apple cherry"), 10)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getAs[Number]("rank").intValue(), r.getDecimal(3)))
      .sortBy(_._3)

    val n = 3L
    val dfs = Map("apple" -> 2L, "cherry" -> 1L)
    val avgdl = (3 + 2 + 4) / 3.0
    val want = Map(
      1L -> refScore(Nil, n, dfs, Seq("apple" -> 2L), 3, avgdl),
      2L -> refScore(Nil, n, dfs, Seq("cherry" -> 1L), 2, avgdl),
      3L -> refScore(Nil, n, dfs, Seq("apple" -> 4L), 4, avgdl))

    assert(out.map(_._2).toSeq === Seq(2L, 3L, 1L),
      "rank order must be score desc (cherry is rare, d3 has the densest apple run)")
    out.foreach { case (_, doc, _, score) =>
      assert(BigDecimal(score).setScale(6) === want(doc).setScale(6), s"doc $doc")
    }
  }

  test("decimal-summed scores are partitioning-invariant; ties break doc_id asc") {
    import spark.implicits._
    // 40 docs over a tiny vocabulary: plenty of exact score ties
    val docs = (1L to 40L).map(i => (i, Seq.fill((i % 3).toInt + 1)("red blue").mkString(" ")))
      .toDF("doc_id", "text")
    val q = Seq(7 -> "red")
    val a = Retrieval.bm25TopK(docs, "text", "doc_id", q, 15)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getAs[Number]("rank").intValue(),
        r.getDecimal(3).toPlainString)).toSet
    val b = Retrieval.bm25TopK(docs.repartition(13), "text", "doc_id", q, 15)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getAs[Number]("rank").intValue(),
        r.getDecimal(3).toPlainString)).toSet
    assert(a === b)
    // within an exact-score tie class, ranks ascend with doc_id
    val byScore = a.toSeq.groupBy(_._4)
    byScore.values.foreach { grp =>
      val sorted = grp.sortBy(_._3)
      assert(sorted.map(_._2) === sorted.map(_._2).sorted, s"tie class $grp")
    }
  }

  test("documents without any query term never appear; k bounds each query") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha alpha"),
      (4L, "epsilon zeta"), (5L, "beta")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, "text", "doc_id",
      Seq(1 -> "alpha", 2 -> "beta gamma"), 2)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(out.map(_._1) === Set(1, 2))
    assert(!out.contains((1, 2L)) && !out.contains((1, 4L)), "no-hit docs must not rank")
    val perQuery = out.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.forall(_ <= 2))
  }

  test("gate grid equals the scored twin's grid; certification accepts healthy fronts") {
    // The r12 gate entry emits only (query_id, rank, doc_id, ok) — the
    // decimal score moved into an in-plan certified claim (cross-engine
    // libm drift on the catalog's only ln-valued output; see qBm25TopK's
    // doc). This pins the two shapes to the SAME ranking: a kernel change
    // that reorders fronts must flip both or it's a twin drift bug.
    val dir = "/root/testdata/sf0.001"
    val gate = graft.queries.LlmOps.qBm25TopK(spark, dir)
      .collect().map(r => (r.getAs[Number]("query_id").intValue(),
        r.getAs[Number]("rank").intValue(), r.getAs[Number]("doc_id").longValue(),
        r.getAs[Boolean]("ok")))
    val scored = graft.queries.LlmOps.qBm25TopKScored(spark, dir)
      .collect().map(r => (r.getAs[Number]("query_id").intValue(),
        r.getAs[Number]("rank").intValue(), r.getAs[Number]("doc_id").longValue()))
    assert(gate.forall(_._4), "every emitted row must carry a TRUE certificate")
    assert(gate.map(t => (t._1, t._2, t._3)).toSeq === scored.toSeq)
    assert(gate.length === 50, "5 queries x k=10 — exactly-k certified")
  }

  test("certification fails loudly on a short front") {
    import spark.implicits._
    // 3 matching docs < k=10: count-per-query certificate must fire the
    // in-plan assert_true rather than emit a silently short front
    val docs = Seq(
      (1L, "apple banana"), (2L, "banana cherry"), (3L, "apple")).toDF("doc_id", "text")
    import org.apache.spark.sql.expressions.Window
    val byRank = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val perQuery = Window.partitionBy(col("query_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val certified = Retrieval.bm25TopK(docs, "text", "doc_id", Seq(1 -> "apple"), 10)
      .withColumn("ok",
        col("score") > 0 &&
          coalesce(lag(col("score"), 1).over(byRank) >= col("score"), lit(true)) &&
          count(lit(1)).over(perQuery) === 10 &&
          col("rank") === row_number().over(byRank))
      .filter(coalesce(assert_true(col("ok")), lit(true)))
    val e = intercept[Exception](certified.collect())
    assert(Option(e.getMessage).getOrElse(e.getCause.getMessage) != null)
  }

  test("plan: bounded top-k front (no Window over scored docs), broadcast term pruning") {
    import spark.implicits._
    val docs = Seq((1L, "x y")).toDF("doc_id", "text")
    val plan = Retrieval.bm25TopK(docs, "text", "doc_id", Seq(1 -> "x"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("plan: one corpus scan + tokenize pass, shared by the tf and df branches") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import spark.implicits._
    val helper = new AdaptiveSparkPlanHelper {}
    val dir = java.nio.file.Files.createTempDirectory("bm25_reuse").toString
    (1L to 200L).map(i => (i, s"doc $i on data model ${i % 7} and the rest"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val out = Retrieval.bm25TopK(docs, "text", "doc_id", Seq(1 -> "data model", 2 -> "the"), 5)
    out.collect() // the AQE-final plan, where exchange reuse is decided
    val plan = out.queryExecution.executedPlan
    // the df aggregate must read the scoring branch's tf exchange: the
    // reused subtree is the whole scan -> tokenize -> explode pass
    val reusedTokenize = helper.collect(plan) { case r: ReusedExchangeExec => r }
      .filter(r => r.child.exists(_.isInstanceOf[GenerateExec]) &&
        r.child.exists(_.isInstanceOf[FileSourceScanExec]))
    assert(reusedTokenize.nonEmpty, plan.toString)
    // ...and no second copy of that pass runs anywhere else in the plan
    val tokenizePasses = helper.collect(plan) {
      case g: GenerateExec if g.exists(_.isInstanceOf[FileSourceScanExec]) => g
    }
    assert(tokenizePasses.size === 1, plan.toString)
  }
}
