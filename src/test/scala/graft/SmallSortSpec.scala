package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.EngineAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.PlanFingerprint

/** `Tables.SmallSort`, one test per branch of its policy: a global sort
  * over a small run-time input loses its range exchange (and with it the
  * sampling job) to a one-partition coalesce or a single-partition shuffle;
  * a larger input, a sort over a file scan, a user's `repartitionByRange`
  * and a session with coalescing off keep it. Every query's rows are
  * checked against the same query with AQE off. */
class SmallSortSpec extends SparkSpec {

  /** The sf0.1 corpus the benchmark runs, so the job counts below are the
    * ones its workloads see. */
  private val sfDir = "perfbench/data/sf0.1"

  private def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The AQE-final fingerprint of `build` run under `confs`, after its
    * rows were checked against the same query with AQE off. The confs are
    * set after the frame is built: a catalog entry re-applies the engine's
    * session confs (`EngineSession.adopt`) as it builds. */
  private def finalPlan(build: => DataFrame, confs: (String, String)*): String = {
    val off = build
    val expected = withConfs(confs :+ ("spark.sql.adaptive.enabled" -> "false"): _*)(off.collect())
    val on = build
    val rows = withConfs(confs: _*)(on.collect())
    assert(rows.toSeq == expected.toSeq, "rows differ from the same query with AQE off")
    PlanFingerprint.of(on)
  }

  private def entry(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  private def exchanges(plan: String): Seq[String] =
    plan.split('>').toSeq.filter(_.startsWith("EX:"))

  /** One lineitem column pair past a round-robin exchange, so every leaf
    * below its sort is a query stage; about 150,000 rows, over 1 MB. */
  private def lineitemByPrice: DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .where(col("l_linenumber") === 1)
      .select("l_orderkey", "l_extendedprice")
      .repartition(4)
      .orderBy("l_extendedprice", "l_orderkey")

  test("coalesce: a sort whose stages fit one task has no exchange above them") {
    val plan = finalPlan(entry("q_dedup_exact"))
    assert(plan.startsWith("SORT:g>COALESCE>"), plan)
    assert(!exchanges(plan).exists(Set("EX:range", "EX:single")), plan)
  }

  test("a session from newSession() of a built session inherits the rule") {
    val df = SparkEntry.queries("q_dedup_exact")(spark.newSession(), sfDir)
    df.collect()
    assert(PlanFingerprint.of(df).startsWith("SORT:g>COALESCE>"))
  }

  test("single exchange: a small sort over larger stages keeps the spreading exchange") {
    val plan = finalPlan(entry("q_text_stats"))
    assert(exchanges(plan) == Seq("EX:single", "EX:rr"), plan)
  }

  test("above B: a sort input over minPartitionSize keeps its range exchange") {
    val plan = finalPlan(lineitemByPrice)
    assert(exchanges(plan) == Seq("EX:range", "EX:rr"), plan)
  }

  test("parallelismFirst off: B is the advisory partition size") {
    val advisoryFirst = "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false"
    // the default advisory size (64 MB) holds the lineitem sort...
    assert(!finalPlan(lineitemByPrice, advisoryFirst).contains("EX:range"))
    // ...and one below a small sort's input does not
    val plan = finalPlan(entry("q_dedup_exact"), advisoryFirst,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4k")
    assert(exchanges(plan).head == "EX:range", plan)
  }

  test("coalescing off: the rule never fires") {
    val plan = finalPlan(entry("q_dedup_exact"),
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    assert(exchanges(plan).head == "EX:range", plan)
  }

  test("a repartitionByRange and a sort over a file scan are untouched") {
    val small = Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    val byRange = finalPlan(small.repartitionByRange(2, col("n")).orderBy("n"))
    assert(exchanges(byRange).head == "EX:range", byRange)
    val scan = finalPlan(entry("q_fn_string"))
    assert(exchanges(scan).head == "EX:range", scan)
  }

  /** Jobs one `collect()` of `name` runs, after a warm-up run. */
  private def jobsPerCollect(name: String): Int = {
    entry(name).collect()
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    EngineAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      entry(name).collect()
      EngineAccess.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("jobs per collect: no sampling job") {
    assert(jobsPerCollect("q_dedup_exact") == 2)
    assert(jobsPerCollect("q_text_stats") == 3)
    assert(jobsPerCollect("q5_multijoin") == 7)
  }

  /** The recall join broadcasts the ANN hits, so its plan does not wait on
    * which side finishes first. */
  test("jobs per collect: q_sim_search_lsh runs the same jobs every time") {
    val counts = (1 to 10).map(_ => jobsPerCollect("q_sim_search_lsh"))
    assert(counts.forall(_ == 7), counts.mkString(", "))
  }
}
