package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.EngineAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.PlanFingerprint

/** `Tables.SmallSort`, one test per branch of its policy: a global sort
  * over a small input (finished stages, or file scans through Projects,
  * Filters and semi or anti joins) loses its range exchange (and with it
  * the sampling job) to a one-partition coalesce or a single-partition
  * shuffle; a larger input, a Generate or an inner join over a scan, a
  * user's `repartitionByRange` and a session with coalescing off keep it.
  * Every query's rows are checked against the same query with AQE off. */
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

  /** The AQE-final fingerprint of `build` built and run under `confs`,
    * after its rows were checked against the same query with AQE off. */
  private def finalPlan(build: => DataFrame, confs: (String, String)*): String = {
    val expected = withConfs(confs :+ ("spark.sql.adaptive.enabled" -> "false"): _*)(build.collect())
    withConfs(confs: _*) {
      val on = build
      assert(on.collect().toSeq == expected.toSeq, "rows differ from the same query with AQE off")
      PlanFingerprint.of(on)
    }
  }

  /** The size AQE reads as one partition under the engine's confs. */
  private val oneMb = 1L << 20

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

  test("a repartitionByRange is untouched") {
    val small = Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    val byRange = finalPlan(small.repartitionByRange(2, col("n")).orderBy("n"))
    assert(exchanges(byRange).head == "EX:range", byRange)
  }

  test("scan: a one-split scan under B sorts in its own task") {
    // part.parquet: 180 KB in one split
    val plan = finalPlan(entry("q_fn_string"))
    assert(plan.startsWith("SORT:g>COALESCE>SCAN:"), plan)
    assert(exchanges(plan).isEmpty, plan)
  }

  test("scan: a one-split scan beside a finished broadcast stage sorts in one task") {
    // customer.parquet: 316 KB, semi-joined to a broadcast of filtered orders
    val plan = finalPlan(entry("q_join_semi"))
    assert(plan.startsWith("SORT:g>COALESCE>BHJ:LeftSemi:"), plan)
    assert(exchanges(plan).isEmpty, plan)
  }

  test("scan: a multi-split scan under B gets a single-partition shuffle") {
    // 64 KB splits cut part.parquet into three
    val plan = finalPlan(entry("q_fn_string"), "spark.sql.files.maxPartitionBytes" -> "64k")
    assert(exchanges(plan) == Seq("EX:single"), plan)
  }

  test("scan: a scan filtered by a scalar subquery gets a single-partition shuffle") {
    // the subquery has not run when the sort is planned, so the scan's
    // splits cannot be read yet
    val part = s"parquet.`$sfDir/part.parquet`"
    val plan = finalPlan(spark.sql(
      s"SELECT p_partkey, p_size FROM $part WHERE p_size = (SELECT max(p_size) FROM $part) ORDER BY p_partkey"))
    assert(exchanges(plan).headOption.contains("EX:single") && !plan.contains("EX:range"), plan)
  }

  test("scan: a scan above B keeps its range exchange") {
    // a one-byte column: the sort input's estimate is under B, the 10.8 MB
    // scan is not
    val buckets = Tables.load(spark, sfDir, "lineitem")
      .where(col("l_linenumber") === 7)
      .select((col("l_orderkey") % 100).cast("byte").as("bucket")).orderBy("bucket")
    assert(buckets.queryExecution.optimizedPlan.stats.sizeInBytes <= oneMb)
    assert(Tables.leafBytes(buckets) > oneMb)
    val plan = finalPlan(buckets)
    assert(exchanges(plan) == Seq("EX:range"), plan)
  }

  test("scan: a Generate or an inner join below keeps the range exchange") {
    // documents.parquet is 594 KB, and so is the sort input's estimate
    val chunks = entry("q_chunk")
    assert(Tables.leafBytes(chunks) <= oneMb)
    assert(chunks.queryExecution.optimizedPlan.stats.sizeInBytes <= oneMb)
    for (name <- Seq("q_chunk", "q_dedup_cosine")) {
      val plan = finalPlan(entry(name))
      assert(exchanges(plan) == Seq("EX:range"), s"$name: $plan")
    }
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
  }

  /** The six entries of the benchmark's `bi_sql` workload. */
  test("jobs per collect: the bi_sql entries") {
    val jobs = Seq("q6_filter_agg", "q_perf_selective", "q_fn_string", "q_join_semi",
      "q_ds3_star", "q5_multijoin").map(n => n -> jobsPerCollect(n))
    assert(jobs.map(_._2) == Seq(2, 2, 1, 2, 4, 7), jobs.mkString(", "))
  }

  /** The recall join broadcasts the ANN hits, so its plan does not wait on
    * which side finishes first. */
  test("jobs per collect: q_sim_search_lsh runs the same jobs every time") {
    val counts = (1 to 10).map(_ => jobsPerCollect("q_sim_search_lsh"))
    assert(counts.forall(_ == 7), counts.mkString(", "))
  }
}
