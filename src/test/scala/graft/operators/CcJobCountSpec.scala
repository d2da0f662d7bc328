package graft.operators

import org.apache.spark.EngineAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** Pins the scheduler cost of a connectedComponents round (VERDICT r7
  * item 5): the convergence check must ride the label-update job, not run
  * as its own count() action. On a 100 TB run every extra driver action
  * per round is a full scheduler round-trip on top of a real shuffle. */
class CcJobCountSpec extends SparkSpec {

  /** Distinct SQL execution ids started while `body` runs — one per
    * driver ACTION. Raw job counts are the wrong unit here: AQE splits a
    * single action into one job per materialized shuffle stage, which is
    * scheduler pipelining, not a driver round-trip. */
  private def countActions(body: => Unit): Int = {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        Option(jobStart.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(ids.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      EngineAccess.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    ids.size()
  }

  test("hooking rounds and compression passes each ride one driver action") {
    import spark.implicits._
    // diameter-11 monotone chain: each round's hook + in-round jump
    // composition roughly triples the distance each label has travelled,
    // so the chain converges in 4 hooking rounds (at iters 0-3; the last
    // observes the fixpoint). compress() is gated on `iter >= 3 AND still
    // improving` and the improving rounds here are iters 0-2, so NO
    // compression pass runs for this fixture — the budget's compression
    // slack exists for the long-chain fixture below, which actually
    // exercises it.
    val chain = (1L to 12L).toDF("id")
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val actions = countActions {
      Dedup.connectedComponents(chain, pairs)
    }
    // Budget: 2 eager-checkpoint actions for edges+labels init plus 4
    // one-action hooking rounds, with headroom of 3 (a compression pass
    // or an extra fixpoint round costs one action each — the bound's job
    // is to catch a convergence check that stops riding the update job,
    // which immediately adds ~1 action per ROUND: the pre-r7 shape
    // measured ~3 actions/round and would land at ~12+).
    assert(actions <= 2 + 4 + 3,
      s"connectedComponents ran $actions driver actions for a " +
        "4-hooking-round fixture — did a convergence check stop " +
        "riding the update job?")
  }

  test("long adversarial chain: compression passes fire, each on one action") {
    import spark.implicits._
    // diameter-399 chain: still improving at iter >= 3, so every later
    // round pays compress() — the accelerator that makes the tree-halving
    // O(log n) bound bite on pathological topologies. This is the fixture
    // that actually exercises the compression budget the short-chain test
    // above reserves headroom for.
    val n = 400L
    val chain = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var result: org.apache.spark.sql.DataFrame = null
    val actions = countActions {
      result = Dedup.connectedComponents(chain, pairs)
    }
    // correctness first: one component, rooted at 1
    val labels = result.select("cluster_id").distinct().collect().map(_.getLong(0))
    assert(labels.toSeq == Seq(1L), s"expected one component rooted at 1, got ${labels.toSeq}")
    // O(log n) accounting: ~3x distance per plain round for iters 0-2,
    // then hook+compress rounds double flattened depth per pass — well
    // under 10 hooking rounds total with a handful of compression passes
    // each riding ONE localCheckpoint action. A regression to
    // O(diameter) rounds (the pre-r10 kernel) needs ~400/3 rounds and
    // blows both maxIter and this bound loudly.
    assert(actions <= 2 + 10 + 20,
      s"connectedComponents ran $actions driver actions on a diameter-399 " +
        "chain — compression stopped accelerating or stopped riding one action")
  }
}
