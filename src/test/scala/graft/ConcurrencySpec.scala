package graft

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Concurrency semantics of the engine — the reference is a concurrent MPP
  * daemon (many clients, per-session query options, shared catalog), and on
  * Spark those roles map to: one SparkContext, N client sessions via
  * `newSession()` (own conf + temp-view catalog + function registry), and
  * thread-safe shared engine state (the per-session view registry in
  * [[Tables.ensureViews]] and table metadata in [[Tables]]).
  *
  * These tests pin three properties a multi-tenant deployment relies on:
  *  1. concurrent catalog entries on ONE session return serial-identical
  *     results (no shared mutable state inside the read-only operators);
  *  2. per-client sessions isolate query OPTIONS — SET on one client never
  *     changes another client's semantics (Impala's per-session options
  *     struct, SURVEY §2.12);
  *  3. per-client sessions isolate their CATALOG — two clients pointing
  *     their views at different data dirs each read their own;
  *  4. the engine's per-session registries (views, table metadata, corpus
  *     statistics, persisted pipeline boundaries) do not keep a dropped
  *     client session alive.
  */
class ConcurrencySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // Read-only entries spanning the operator families (agg, joins, windows,
  // set ops, subqueries, dedup, text, functions). Sink/DDL/options entries
  // mutate shared warehouse state by design and belong to a single client.
  private val readOnly = Seq(
    "q1_agg", "q3_join", "q6_filter_agg", "q13_distribution",
    "q_window_rank", "q_union", "q_topn_offset", "q_join_anti",
    "q_agg_approx", "q_dedup_exact", "q_text_stats", "q_fn_cond")

  test("12 catalog entries × 2 rounds run concurrently with serial-identical results") {
    val entries = readOnly.map(n => n -> SparkEntry.queries(n))
    val serial = entries.map { case (n, fn) => n -> canon(fn(spark, dir)) }.toMap

    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 2).flatMap(_ => entries).map { case (n, fn) =>
        Future(n -> canon(fn(spark, dir)))
      }
      val results = Await.result(Future.sequence(futures), 10.minutes)
      for ((n, rows) <- results)
        assert(rows === serial(n), s"concurrent run of $n diverged from serial")
    } finally pool.shutdown()
  }

  test("per-client sessions isolate query options (APPX_COUNT_DISTINCT on one client only)") {
    val clientA = EngineSession.adopt(spark.newSession())
    val clientB = EngineSession.adopt(spark.newSession())
    Tables.ensureViews(clientA, dir)
    Tables.ensureViews(clientB, dir)

    Options.set(clientA, "APPX_COUNT_DISTINCT", "true")
    val q = "SELECT count(DISTINCT l_partkey) AS d FROM lineitem"

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fa = Future(EngineSession.sql(clientA, q))
      val fb = Future(EngineSession.sql(clientB, q))
      val (dfA, dfB) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
      // A's plan rewrote the distinct count to the HLL sketch...
      assert(dfA.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"),
        "client A (APPX_COUNT_DISTINCT=true) did not get the ndv rewrite")
      // ...while B stayed exact, in plan and in value.
      assert(!dfB.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"),
        "client B inherited client A's session option")
      val exact = Tables.load(clientB, dir, "lineitem")
        .select(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
      assert(dfB.collect()(0).getLong(0) === exact)
      // and the option value itself never crossed sessions
      assert(clientB.conf.getOption(plans.AppxCountDistinctRewrite.ConfKey).isEmpty)
    } finally pool.shutdown()
  }

  test("per-client sessions isolate their catalog (different data dirs per client)") {
    val clientA = EngineSession.adopt(spark.newSession())
    val clientB = EngineSession.adopt(spark.newSession())
    Tables.ensureViews(clientA, "/root/testdata/sf0.001")
    Tables.ensureViews(clientB, "/root/testdata/sf0.01")

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val counts = Await.result(Future.sequence(Seq(
        Future(clientA.sql("SELECT count(*) FROM lineitem").collect()(0).getLong(0)),
        Future(clientB.sql("SELECT count(*) FROM lineitem").collect()(0).getLong(0)))),
        5.minutes)
      val expectA = Tables.load(spark, "/root/testdata/sf0.001", "lineitem").count()
      val expectB = Tables.load(spark, "/root/testdata/sf0.01", "lineitem").count()
      assert(counts === Seq(expectA, expectB))
      assert(expectA != expectB, "scale factors unexpectedly equal — test is vacuous")
    } finally pool.shutdown()
  }

  test("a dropped client session is collectable after adopt and ensureViews") {
    // in its own frame, so no local of the test body keeps the session
    def adoptAndDrop(): java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession] = {
      val client = EngineSession.adopt(spark.newSession())
      Tables.ensureViews(client, dir)
      // fills the session's table-metadata cache (schema and row groups)
      val docs = Tables.load(client, dir, "documents")
      assert(Tables.sourceRowGroups(docs).isDefined)
      // and its collected corpus statistics (the LSH dim-means)
      val emb = Tables.load(client, dir, "embeddings")
      operators.Similarity.lshTopK(emb.filter(col("vec_id") < 10),
        emb.filter(col("vec_id") >= 10), "vec_id", "embedding", 3)
      // and the file stamps of its persisted pipeline boundaries
      for (n <- Seq("q_split_leakage_safe", "q_pipeline_e2e"))
        assert(SparkEntry.queries(n)(client, dir).collect().nonEmpty, n)
      new java.lang.ref.WeakReference(client)
    }
    val ref = adoptAndDrop()
    // lshTopK's dim-means aggregate runs adaptive query stages. Spark's
    // stage pools (QueryStageCreator, shuffle-exchange,
    // ResultQueryStageExecution) start threads on demand that inherit the
    // client as their active session and keep them for 60 s when idle, so
    // the deadline covers that keep-alive; an engine registry holding the
    // session would keep it past any deadline.
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(500)
    }
    assert(ref.get == null, "a client session stayed reachable after every reference was dropped")
  }
}
