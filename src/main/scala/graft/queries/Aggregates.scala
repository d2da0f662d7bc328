package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import Parity._

/** Aggregate-function breadth — the reference's builtin aggregate surface
  * (fe/.../catalog/BuiltinsDb.java:522-792, be/src/exprs/aggregate-functions.cc)
  * mapped onto Spark's hash aggregation. Two-phase DISTINCT, min/max,
  * group_concat, the variance family, and the approximate family
  * (ndv/appx_median — sketch-based, oracle-checked through exact
  * aggregates plus in-engine error-envelope flags, see [[qAggApprox]]).
  *
  * Determinism notes (the part that makes these hash-match a single-threaded
  * DuckDB): double sums go through [[Parity.dsum]]; group_concat is made
  * order-deterministic by sorting the collected array (the reference itself
  * documents group_concat order as nondeterministic — we pin it); the
  * variance family is derived from exact decimal moments (see [[qAggStats]])
  * because distributed double moment merges differ from DuckDB's
  * sequential fold in the last ulps.
  */
object Aggregates {

  /** min/max over all comparable types + two-phase DISTINCT aggregates
    * (reference: AggregateInfo.createDistinctAggInfo,
    * fe/.../analysis/AggregateInfo.java:131-156 — Catalyst's
    * RewriteDistinctAggregates plans the same two-phase shape, and supports
    * several distinct sets in one query, a strict superset). */
  def qAggMinmaxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    // Plan choices that matter at scale:
    //  - a var-length (string) min/max in the same Aggregate as DISTINCT
    //    sets forces the WHOLE aggregate into SortAggregate over the
    //    Expanded distinct stream (no fixed-width hash buffer for
    //    strings) — measured 3x slower at sf0.1;
    //  - MULTIPLE distinct sets in one Aggregate force Catalyst's
    //    RewriteDistinctAggregates Expand: N sets → N+1 copies of every
    //    input row through one partial aggregate. Three separate
    //    single-distinct branches instead each plan as partial-dedup →
    //    slim shuffle of distinct pairs → count, with NO row expansion;
    //    the rejoin is on the 3-row grouped result. (Measured 3.2s →
    //    under 2s at sf0.1; the same math holds at any scale because
    //    Expand multiplies the full input, the branches only shuffle
    //    per-branch distinct pairs.)
    val fixedWidth = li.groupBy(col("l_returnflag"))
      .agg(
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        dsum(col("l_discount")).as("sum_disc"))
    def ndv(alias: String, cols: Column*) =
      li.groupBy(col("l_returnflag")).agg(countDistinct(cols.head, cols.tail: _*).as(alias))
    // The branch trade: each branch re-scans lineitem (4 scans total) — the
    // win is removing the Expand row multiplication, which dominates at
    // scale because scans are cheap columnar reads and Expand is a per-row
    // CPU+shuffle multiplier. The rejoin key must be NULL-SAFE (<=>): a
    // NULL group key is a legitimate group out of groupBy, and a plain
    // equi-join would silently drop it.
    def joinOnKey(left: DataFrame, right: DataFrame): DataFrame = {
      val r = right.withColumnRenamed("l_returnflag", "rf__r")
      left.join(r, col("l_returnflag") <=> col("rf__r")).drop("rf__r")
    }
    val fixed2 = Seq(
      ndv("ndv_part", col("l_partkey")),
      ndv("ndv_supp", col("l_suppkey")),
      ndv("ndv_line", col("l_orderkey"), col("l_linenumber")))
      .foldLeft(fixedWidth)(joinOnKey)
    val varLength = li.groupBy(col("l_returnflag"))
      .agg(min(col("l_linestatus")).as("min_status"))
    joinOnKey(fixed2, varLength)
      .select(col("l_returnflag"), col("min_qty"), col("max_qty"), col("min_ship"),
        col("max_ship"), col("min_status"), col("ndv_part"), col("ndv_supp"),
        col("ndv_line"), col("sum_disc"))
      .orderBy(col("l_returnflag"))
  }

  val qAggMinmaxDistinctSql: String = s"""
    SELECT l_returnflag,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           MIN(l_shipdate) AS min_ship,
           MAX(l_shipdate) AS max_ship,
           MIN(l_linestatus) AS min_status,
           COUNT(DISTINCT l_partkey) AS ndv_part,
           COUNT(DISTINCT l_suppkey) AS ndv_supp,
           COUNT(DISTINCT (l_orderkey, l_linenumber)) AS ndv_line,
           ${dsumSql("l_discount")} AS sum_disc
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""

  /** Variance family (reference: Knuth online variance,
    * aggregate-functions.h:189-203, BuiltinsDb.java:636-700).
    *
    * Distributed double moments are order-dependent in the last ulps, so the
    * oracle entry computes variance algebraically from EXACT decimal
    * sums — sum(x) and sum(x²) are exact (2/4-decimal inputs), and the final
    * double expression (sxx - sx²/n)/(n-1) plus IEEE-correctly-rounded sqrt
    * is evaluated identically by both engines → bit-exact, any partitioning.
    * (The builtin stddev/var functions are exercised in ScalaTest with
    * tolerance instead.) */
  def qAggStats(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val x = col("o_totalprice")
    // Square in DECIMAL, not double: x² of a 2-decimal ~5e5 value needs 16
    // significant digits, past double exactness. decimal(18,2)² → exact
    // 4-decimal product in both engines.
    val xd = x.cast("decimal(18,2)")
    val grouped = o.groupBy(col("o_orderstatus"))
      .agg(
        dsum(x).as("sx"),
        // string-routed decimal→double like Parity.dsum: the exact sum of
        // squares exceeds 2^53 from sf0.1 up, where DuckDB's direct cast
        // double-rounds 1 ULP off Spark's (see Parity.dsum note)
        sum(xd * xd).cast("string").cast("double").as("sxx"),
        count(lit(1)).as("n"))
    val n = col("n").cast("double")
    val vSamp = (col("sxx") - col("sx") * col("sx") / n) / (n - lit(1.0))
    val vPop = (col("sxx") - col("sx") * col("sx") / n) / n
    grouped.select(
        col("o_orderstatus"),
        sqrt(vSamp).as("sd_samp"),
        sqrt(vPop).as("sd_pop"),
        vSamp.as("v_samp"),
        vPop.as("v_pop"),
        (col("sx") / n).as("avg_price"),
        col("n"))
      .orderBy(col("o_orderstatus"))
  }

  val qAggStatsSql: String = s"""
    WITH g AS (
      SELECT o_orderstatus,
             ${dsumSql("o_totalprice")} AS sx,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sxx,
             COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus)
    SELECT o_orderstatus,
           SQRT((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) AS sd_samp,
           SQRT((sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS sd_pop,
           (sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS v_samp,
           (sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS v_pop,
           sx / CAST(n AS DOUBLE) AS avg_price,
           n
    FROM g
    ORDER BY o_orderstatus"""

  /** group_concat (reference: aggregate-functions.h:111-117,
    * BuiltinsDb.java:771-792). Collected per group then sorted — the only
    * way a distributed concat can be deterministic; the shuffle carries the
    * small per-group array, not the input rows. */
  def qAggGroupConcat(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.load(spark, dir, "nation")
    n.groupBy(col("n_regionkey"))
      .agg(
        array_join(sort_array(collect_list(col("n_name"))), ", ").as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("n_regionkey"))
  }

  val qAggGroupConcatSql: String = """
    SELECT n_regionkey,
           STRING_AGG(n_name, ', ' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey"""

  /** Approximate family: ndv / appx_count_distinct → HLL++
    * (reference: HLL with 2^10 buckets, aggregate-functions.h:174-184;
    * Spark's approx_count_distinct is HLL++ — same asymptotics, different
    * sketch constants, so the sketch VALUES can't be oracle'd directly).
    * appx_median → percentile_approx(0.5) (reference reservoir sampling,
    * aggregate-functions.h:143-167). Oracle-checked via exact aggregates
    * plus in-engine band flags the oracle pins TRUE — see the body
    * comment; band parameters exposed for the non-vacuity spec. */
  def qAggApprox(spark: SparkSession, dir: String): DataFrame =
    // ndv band ±15% ≈ 3σ at the default rsd 0.05: the sketch estimate is
    // deterministic per scale but changes with scale, so a 2σ band risks
    // a spurious driver red at the first unverified SF (advice r6); the
    // non-vacuity spec still flips the flag under unreachable bands.
    qAggApproxBanded(spark, dir, ndvLo = 0.85, ndvHi = 1.15,
      rankLo = 0.45, rankHi = 0.55)

  private[graft] def qAggApproxBanded(spark: SparkSession, dir: String,
      ndvLo: Double, ndvHi: Double, rankLo: Double, rankHi: Double): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    // Sketch outputs (HLL++ ndv, appx median) are deterministic but not
    // DuckDB-derivable, so the entry emits the EXACT ndv aggregates
    // (oracle-checkable) plus band flags computed in-engine: each HLL++
    // value must land within ±10% of the exact ndv (default rsd 0.05),
    // and the appx median is validated by its RANK — the fraction of
    // rows <= it must sit in [0.45, 0.55] (accuracy 10000 → rank error
    // 1e-4). The rank check is a second codegen'd hash-agg pass over a
    // broadcast 3-row sketch join — deliberately NOT an exact
    // percentile(), which buffers every value per group in an
    // ObjectHashAggregate and would be the scale killer at 100 TB.
    // The oracle recomputes the exact columns and pins the flags TRUE,
    // so a sketch regression turns the driver gate red instead of
    // hiding behind a rows-only check.
    val rf = col("l_returnflag")
    val sketch = li.groupBy(rf)
      .agg(
        approx_count_distinct(col("l_partkey")).as("ap"),
        approx_count_distinct(col("l_orderkey")).as("ao"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("am"))
    val exact = li.groupBy(rf)
      .agg(
        countDistinct(col("l_partkey")).as("ndv_part_exact"),
        countDistinct(col("l_orderkey")).as("ndv_order_exact"))
    val amRank = li
      .join(broadcast(sketch.select(rf, col("am"))), Seq("l_returnflag"))
      .groupBy(rf)
      .agg(avg((col("l_extendedprice") <= col("am")).cast("double")).as("am_rank"))
    // both right sides are the planner's build sides already; the hints
    // keep AQE from flipping a join to whichever 3-row side finishes first
    // at run time (a timing-dependent AQE-final plan)
    exact
      .join(broadcast(sketch), Seq("l_returnflag"))
      .join(broadcast(amRank), Seq("l_returnflag"))
      .select(
        rf, col("ndv_part_exact"), col("ndv_order_exact"),
        (col("ap").cast("double") >= col("ndv_part_exact") * ndvLo &&
         col("ap").cast("double") <= col("ndv_part_exact") * ndvHi).as("ndv_part_ok"),
        (col("ao").cast("double") >= col("ndv_order_exact") * ndvLo &&
         col("ao").cast("double") <= col("ndv_order_exact") * ndvHi).as("ndv_order_ok"),
        (col("am_rank") >= rankLo && col("am_rank") <= rankHi).as("median_ok"))
      .orderBy(rf)
  }

  val qAggApproxSql: String = """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey)  AS ndv_part_exact,
           COUNT(DISTINCT l_orderkey) AS ndv_order_exact,
           TRUE AS ndv_part_ok,
           TRUE AS ndv_order_ok,
           TRUE AS median_ok
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""
}
