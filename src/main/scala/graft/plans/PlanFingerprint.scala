package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Compact, deterministic physical-plan signature — the regression guard
  * the reference gets from asserting full distributed-plan text for every
  * workload query (fe/src/test/.../planner/PlannerTest.java over
  * PlannerTest/tpch-all.test, tpcds-all.test).
  *
  * Asserting raw explain text is too brittle on Spark (expression ids,
  * stats, codegen stage ids churn per build), so the signature keeps only
  * the load-bearing plan decisions, in preorder so join ORDER is pinned:
  * join strategy + type + build side, exchange kind, aggregate impl +
  * phase, sort scope, limit/TopN form, window/expand/generate presence,
  * and scan form + post-prune column width (the column-pruning guard).
  * A stats change silently flipping a broadcast join to sort-merge, a
  * lost partial-agg phase, or a widened scan all change the signature —
  * exactly the drifts that stay hash-green and only surface as perf
  * regressions at scale.
  */
object PlanFingerprint {

  /** Signature of the frame's (pre-execution) physical plan. With AQE on,
    * the initial adaptive plan — deterministic at plan time, unlike the
    * post-execution re-planned tree. */
  def of(df: DataFrame): String = fromPlan(df.queryExecution.executedPlan)

  def fromPlan(plan: SparkPlan): String = {
    val out = ArrayBuffer[String]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec        => walk(s.plan)
      case w: WholeStageCodegenExec => walk(w.child)
      case i: InputAdapter          => walk(i.child)
      case _: ReusedExchangeExec    => out += "REUSE" // shared subtree, don't re-walk
      case op =>
        label(op).foreach(out += _)
        // subquery plans (scalar / IN / DPP) are part of the shape
        op.expressions.foreach(_.foreach {
          case s: ExecSubqueryExpression =>
            out += "{"; walk(s.plan); out += "}"
          case _ => ()
        })
        op.children.foreach(walk)
    }
    walk(plan)
    out.mkString(">")
  }

  private def modes(aggs: Seq[AggregateExpression]): String =
    aggs.map(_.mode.toString).distinct.sorted.mkString("+")

  private def label(p: SparkPlan): Option[String] = p match {
    case j: BroadcastHashJoinExec       => Some(s"BHJ:${j.joinType}:${j.buildSide}")
    case j: ShuffledHashJoinExec        => Some(s"SHJ:${j.joinType}:${j.buildSide}")
    case j: SortMergeJoinExec           => Some(s"SMJ:${j.joinType}")
    case j: BroadcastNestedLoopJoinExec => Some(s"BNLJ:${j.joinType}:${j.buildSide}")
    case _: CartesianProductExec        => Some("CARTESIAN")
    case a: HashAggregateExec           => Some(s"HA[${modes(a.aggregateExpressions)}]")
    case a: ObjectHashAggregateExec     => Some(s"OHA[${modes(a.aggregateExpressions)}]")
    case a: SortAggregateExec           => Some(s"SA[${modes(a.aggregateExpressions)}]")
    case e: ShuffleExchangeExec => Some("EX:" + (e.outputPartitioning match {
      case _: HashPartitioning       => "hash"
      case _: RangePartitioning      => "range"
      case SinglePartition           => "single"
      case _: RoundRobinPartitioning => "rr"
      case other                     => other.getClass.getSimpleName
    }))
    case _: BroadcastExchangeExec     => Some("BX")
    case _: TakeOrderedAndProjectExec => Some("TOP")
    case s: SortExec                  => Some(if (s.global) "SORT:g" else "SORT:l")
    case _: WindowExec                => Some("WIN")
    case _: WindowGroupLimitExec      => Some("WINLIMIT")
    case _: ExpandExec                => Some("EXPAND")
    case _: GenerateExec              => Some("GEN")
    case _: CoalesceExec              => Some("COALESCE")
    case _: CollectLimitExec          => Some("CLIMIT")
    case _: GlobalLimitExec           => Some("GLIMIT")
    case f: FileSourceScanExec =>
      val fmt = f.relation.fileFormat.getClass.getSimpleName
        .stripSuffix("$").stripSuffix("FileFormat").toLowerCase
      Some(s"SCAN:$fmt:c${f.output.size}")
    case b: BatchScanExec             => Some(s"DSV2:c${b.output.size}")
    case _: RowDataSourceScanExec     => Some("ROWSCAN")
    case _: InMemoryTableScanExec     => Some("MEMSCAN")
    case _: LocalTableScanExec        => Some("LOCAL")
    case _: RangeExec                 => Some("RANGE")
    case _                            => None
  }
}
