package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.operators.Dedup

/** Both branches of `Tables.spreadSmall`: below cap × advisory partition
  * size it adds one round-robin exchange; at or above it AQE already reads
  * the aggregate at least cap wide, so the exchange is skipped. */
class SpreadSmallSpec extends SparkSpec {

  private def roundRobins(df: DataFrame): Int = df.queryExecution.sparkPlan.collect {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
  }.size

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("a corpus at cap × advisory skips the spreading exchange, results unchanged") {
    val session = spark.newSession()
    val corpus = Tables.load(session, "/root/testdata/sf0.1", "documents")
    val spans = () => Dedup.exactSubstringSpans(corpus, "text", "doc_id", k = 5)
    val bytes = Tables.leafBytes(corpus)
    val cap = math.max(session.sparkContext.defaultParallelism,
      session.sessionState.conf.numShufflePartitions)
    val advisory = session.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    assert(bytes < BigInt(cap) * advisory, s"setup: $bytes source bytes already cross the gate")

    val spread = spans()
    assert(roundRobins(spread) === 1, "below the gate spreadSmall adds one round-robin exchange")
    val expected = rows(spread)
    assert(expected.nonEmpty, "setup: the corpus should have duplicated spans")

    // lower the advisory size until this corpus reaches cap × advisory
    session.conf.set(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key, (bytes / cap).toString)
    val skipped = spans()
    assert(roundRobins(skipped) === 0, "at the gate spreadSmall must leave the relation alone")
    assert(rows(skipped) === expected)
  }
}
