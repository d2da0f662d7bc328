package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.graftplan.TestSessionBridge

/** The APPX_COUNT_DISTINCT semantics fork between BUILT and ADOPTED
  * sessions (VERDICT r7 §wrong-1): an adopted session's fallback rule runs
  * after RewriteDistinctAggregates, so multi-distinct aggregates would
  * silently stay exact. This spec pins all three adopted-path behaviors:
  * single-distinct rewrites via the fallback, multi-distinct rewrites via
  * EngineSession.sql's analyzed-plan pass, and raw spark.sql multi-distinct
  * stays exact (the documented remainder of the fork). */
class AdoptedSessionSpec extends SparkSpec {

  private lazy val adopted = {
    val bare = TestSessionBridge.bareSession(spark)
    EngineSession.adopt(bare)
  }

  private def usesNdv(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.aggregateExpressions.exists(_.exists {
            case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
              ae.aggregateFunction.isInstanceOf[HyperLogLogPlusPlus]
            case _ => false
          }) => a
    }.nonEmpty

  private def withAppx[A](body: => A): A = {
    Options.set(adopted, "APPX_COUNT_DISTINCT", "true")
    try body finally Options.set(adopted, "APPX_COUNT_DISTINCT", "false")
  }

  test("adopted session is tracked; built session is not") {
    assert(EngineSession.isAdopted(adopted))
    assert(!EngineSession.isAdopted(spark))
  }

  test("adopted session: single COUNT(DISTINCT) rewrites via the fallback rule") {
    withAppx {
      val df = adopted.sql(
        "SELECT count(DISTINCT id) AS n FROM range(100)")
      assert(usesNdv(df), "fallback extraOptimizations must catch single-distinct")
      assert(df.collect()(0).getLong(0) > 0)
    }
  }

  test("adopted session: multi-distinct through EngineSession.sql gets the rewrite") {
    withAppx {
      val sql = "SELECT count(DISTINCT id) AS a, count(DISTINCT id % 7) AS b FROM range(1000)"
      // raw spark.sql on the adopted session: the fallback runs too late —
      // RewriteDistinctAggregates has already expanded the aggregates.
      // This exactness is the documented fork remainder; if a Spark upgrade
      // ever changes rule ordering this assert flags it for re-audit.
      assert(!usesNdv(adopted.sql(sql)), "raw adopted-session multi-distinct stays exact")
      // the engine's SQL surface closes the fork on the analyzed plan
      val viaEngine = EngineSession.sql(adopted, sql)
      assert(usesNdv(viaEngine), "EngineSession.sql must apply the ndv rewrite")
      val r = viaEngine.collect()(0)
      assert(r.getLong(0) > 0 && r.getLong(1) > 0)
    }
  }

  test("built session: multi-distinct rewrites regardless of entry point") {
    Options.set(spark, "APPX_COUNT_DISTINCT", "true")
    try {
      val df = spark.sql(
        "SELECT count(DISTINCT id) AS a, count(DISTINCT id % 7) AS b FROM range(1000)")
      assert(usesNdv(df), "injected rule must see multi-distinct intact")
    } finally Options.set(spark, "APPX_COUNT_DISTINCT", "false")
  }

  test("adopted session: DML through EngineSession.sql executes exactly once") {
    // ADVICE r8: spark.sql eagerly executes command plans; re-wrapping the
    // analyzed plan through Dataset.ofRows would run the INSERT a second
    // time and silently duplicate written data.
    withAppx {
      adopted.sql("DROP TABLE IF EXISTS adopt_dml_t")
      adopted.sql("CREATE TABLE adopt_dml_t (n BIGINT) USING parquet")
      try {
        EngineSession.sql(adopted,
          "INSERT INTO adopt_dml_t SELECT count(DISTINCT id) FROM range(100)")
        assert(adopted.table("adopt_dml_t").count() === 1L,
          "INSERT containing COUNT(DISTINCT) must write exactly one batch")
      } finally adopted.sql("DROP TABLE IF EXISTS adopt_dml_t")
    }
  }

  test("build() on a pre-existing active session routes to the adopted path") {
    // ADVICE r8: getOrCreate can return a live session for which
    // .withExtensions was ignored — marking it built would permanently
    // suppress the adopted compensation and reopen the multi-distinct fork.
    import org.apache.spark.sql.SparkSession
    val bare = TestSessionBridge.bareSession(spark)
    SparkSession.setActiveSession(bare)
    try {
      val got = EngineSession.build(master = "local[4]", shufflePartitions = 4)
      assert(got eq bare, "getOrCreate must hand back the active session here")
      assert(EngineSession.isAdopted(got),
        "a pre-existing session lacks the injected rule and must stay adopted")
    } finally SparkSession.setActiveSession(spark)
  }

  test("SET APPX_COUNT_DISTINCT=1 (reference 0/1 boolean) toggles the rewrite") {
    // ADVICE r8: the stored value must parse at every read site — "1"
    // verbatim used to throw IllegalArgumentException in sql() and the rule.
    Options.set(adopted, "APPX_COUNT_DISTINCT", "1")
    try {
      val df = EngineSession.sql(adopted,
        "SELECT count(DISTINCT id) AS a, count(DISTINCT id % 7) AS b FROM range(1000)")
      assert(usesNdv(df), "=1 must enable the ndv rewrite")
      assert(df.collect()(0).getLong(0) > 0)
    } finally Options.set(adopted, "APPX_COUNT_DISTINCT", "0")
    assert(!usesNdv(EngineSession.sql(adopted,
      "SELECT count(DISTINCT id) AS a FROM range(10)")), "=0 must disable it")
  }

  test("flag off: adopted session keeps exact semantics everywhere") {
    val sql = "SELECT count(DISTINCT id) AS a FROM range(100)"
    assert(!usesNdv(adopted.sql(sql)))
    assert(!usesNdv(EngineSession.sql(adopted, sql)))
    assert(EngineSession.sql(adopted, sql).collect()(0).getLong(0) === 100L)
  }

  test("a SET made before building a catalog entry holds for that query") {
    // Every entry adopts the session it runs in, so only a session's first
    // adopt may apply the engine's confs: a later one would revert its SETs.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val aqe = "spark.sql.adaptive.enabled"
    val client = spark.newSession()
    client.conf.set(aqe, "false")
    EngineSession.adopt(client)
    assert(client.conf.get(aqe) === "true", "the first adopt applies the engine's confs")
    for (session <- Seq(spark, client)) {
      val prev = session.conf.get(aqe)
      session.conf.set(aqe, "false")
      try {
        val df = SparkEntry.queries("q_fn_string")(session, "perfbench/data/sf0.1")
        assert(session.conf.get(aqe) === "false", "building the entry reverted the SET")
        assert(!df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
        assert(df.collect().nonEmpty)
      } finally session.conf.set(aqe, prev)
    }
  }

  test("SPARK_GRAFT_EXTRA_CONF parses k=v;k=v, trims, and rejects malformed entries") {
    // The deployment-tuning knob behind the config-axis sweeps: values may
    // contain '=' (only the first splits), blanks between ';' are ignored.
    assert(EngineSession.parseExtraConfs(
      "spark.sql.adaptive.enabled=false; spark.sql.shuffle.partitions=7 ;;") ===
      Map("spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "7"))
    assert(EngineSession.parseExtraConfs("a=b=c") === Map("a" -> "b=c"))
    assertThrows[IllegalArgumentException](EngineSession.parseExtraConfs("noequals"))
    assertThrows[IllegalArgumentException](EngineSession.parseExtraConfs("=v"))
  }
}
