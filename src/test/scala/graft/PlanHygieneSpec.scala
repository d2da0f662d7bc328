package graft

/** Catalog-wide scale-killer detector: compiles every SparkEntry query's
  * physical plan at sf0.001 and asserts no CartesianProduct anywhere and
  * no BroadcastNestedLoopJoin outside the explicit allowlist below. A
  * future regression that silently degrades an equi-join to a
  * nested-loop/cartesian plan (dropped join key, non-equi rewrite,
  * broadcast of an unbounded side) fails here instead of surfacing as an
  * OOM at scale. The emitted query itself is never executed; note that a
  * few entries do run real work while CONSTRUCTING their plan (lshTopK
  * collects corpus dim-means on a session's first call per corpus,
  * ivfTopK fits KMeans, sink entries write fixtures), so this spec is
  * cheap but not entirely side-effect-free. */
class PlanHygieneSpec extends SparkSpec {

  /** Entries whose nested-loop join is the DESIGN, each with a bounded
    * build side by construction:
    * - q_join_cross: the §2.3 CROSS JOIN component itself (5×25 dims);
    * - q_sim_search / q_sim_search_lsh / q_sim_search_ivf: the exact
    *   brute-force kernel broadcasts the small QUERY set over the corpus
    *   (one pass, documented 100 TB shape — the ANN variants embed it as
    *   their oracle-checked exact side);
    * - q_dedup_cosine: the exact pair kernel, contract-bounded by the
    *   caller (the production path is the bucket equi-join);
    * - q_dedup_cosine_ivf: embeds the same contract-bounded exact kernel
    *   as its oracle-checked side (vec_id < 20000, constant beyond sf1)
    *   plus a 1-row × 1-row aggregate cross join for the summary row;
    *   the IVF candidate path itself is a bucket equi-join;
    * - q_ds88_multicount: TPC-DS q88's documented shape — eight 1-row
    *   scalar-count blocks cross-joined, bounded by construction;
    * - q_ds61_promo_ratio: TPC-DS q61's documented shape — TWO 1-row
    *   scalar-sum blocks cross-joined for the promo/total ratio;
    * - q_sim_search_ivf_raw: the probe step ranks every query against the
    *   broadcast CENTROID table (nCentroids=32 rows) — the nested loop's
    *   build side is the centroid count, never the corpus;
    * - q_sim_search_q8 / q_sim_search_q8_raw: the quantized scoring scan
    *   broadcasts the small QUERY index over the corpus codes (the scalar
    *   quantization design — full scan at 1 byte/dim, no bucketing), same
    *   bounded-build-side shape as q_sim_search. */
  private val allowedNestedLoop = Set(
    "q_join_cross", "q_sim_search", "q_sim_search_lsh", "q_sim_search_ivf",
    "q_dedup_cosine", "q_dedup_cosine_ivf", "q_ds88_multicount",
    "q_ds61_promo_ratio", "q_sim_search_ivf_raw",
    "q_sim_search_q8", "q_sim_search_q8_raw",
    // BM25 attaches the 1-row (N, avgdl) corpus-stats aggregate to the
    // scored rows via crossJoin(broadcast(...)) — the same bounded
    // broadcast-build shape as the ANN query sides above
    "q_bm25_topk")

  /** Entries whose GLOBAL (unpartitioned) window is the design:
    * q_sim_search_lsh / q_sim_search_ivf — annGatedExact's recall window
    * runs over nQueries×k rows (≤30) by construction; the verdict scalar
    * needs the whole frame; q_sim_search_q8 embeds the same gate. */
  private val allowedGlobalWindow =
    Set("q_sim_search_lsh", "q_sim_search_ivf", "q_sim_search_q8")

  test("no entry plans an unpartitioned window over an unbounded relation") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (allowedGlobalWindow(name)) Nil
      else {
        // sparkPlan, NOT executedPlan: AQE wraps the tree in an
        // AdaptiveSparkPlanExec whose collect() sees only the wrapper
        // node, which would make this check pass vacuously
        val plan = fn(spark, dir).queryExecution.sparkPlan
        val global = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        if (global.nonEmpty) Seq(name) else Nil
      }
    }
    assert(offenders.isEmpty,
      s"single-partition windows (100 TB scale hazard): ${offenders.mkString(", ")}")
  }

  test("no entry plans a cartesian product or an unexpected nested-loop join") {
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      val bad =
        (if (plan.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil) ++
        (if (plan.contains("BroadcastNestedLoopJoin") && !allowedNestedLoop(name))
           Seq(s"$name: BroadcastNestedLoopJoin") else Nil)
      bad
    }
    assert(offenders.isEmpty, s"scale-killer plans: ${offenders.mkString("; ")}")
  }
}
