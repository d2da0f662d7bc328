package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-code cache is sized for the catalog: in a session from
  * [[EngineSession.build]], a second pass over entries that compile more
  * than Spark's default 100 classes compiles none. Runs in its own JVM
  * (build.sbt), so the first pass counts every class the entries need and
  * the cache was created from the engine's confs. */
class CodegenCacheSpec extends SparkSpec {

  private val dir = "perfbench/data/sf0.1"

  /** The benchmark's bi_sql entries, two of its llm_pipeline entries and
    * four more relational ones: entries whose later runs generate the same
    * code as their first. Left out: q_sim_search_lsh and
    * q2_min_cost_supplier, whose later runs sometimes compile a few new
    * classes even with an unbounded cache. */
  private val entries = Seq("q6_filter_agg", "q_perf_selective", "q_fn_string",
    "q_join_semi", "q_ds3_star", "q5_multijoin", "q_dedup_exact", "q_text_stats",
    "q_ds47_window", "q10_returned", "q13_distribution", "q16_supplier_count")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def pass(): Long = {
    val c0 = compiles
    entries.foreach(name => SparkEntry.queries(name)(spark, dir).collect())
    compiles - c0
  }

  test("a second pass over more than 100 classes' worth of entries compiles 0 classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      EngineSession.staticConfs("spark.sql.codegen.cache.maxEntries"))
    val first = pass()
    assert(first > 100, s"the entries compiled only $first classes")
    assert(pass() === 0)
  }
}
