package graft

import org.apache.spark.sql.SparkSession

/** Impala-dialect function surface registered onto a SparkSession.
  * Memoized per session — `EngineSession.adopt` runs on every catalog
  * query invocation and re-registering 40+ functions each time would spam
  * "function replaced" warnings (and waste registry churn). Weak keys, so
  * a session-per-client server frees each client's session once it is
  * dropped.
  */
object Dialect {
  private val done =
    java.util.Collections.newSetFromMap(java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))

  def registerAll(spark: SparkSession): Unit =
    if (done.add(spark)) functions.ImpalaFunctions.register(spark)

  /** Impala plan-hint pre-rewrite (reference grammar: plan_hints at
    * sql-parser.y:343 — `JOIN [broadcast] t` / `JOIN [shuffle] t`):
    * translated to Spark's hint framework before parsing. Covers the
    * common single-table-name form; subquery targets pass through
    * untouched (Spark's own comment hints work there directly).
    *
    * Each hint is injected after the SELECT of the query block that
    * contains its join (nearest preceding SELECT at the same paren depth),
    * so CTE/subquery statements hint the right block; occurrences inside
    * single-quoted string literals are left untouched.
    */
  private val bracketHint = """(?is)\bJOIN\s*\[\s*(broadcast|shuffle)\s*\]\s+(\w+)""".r
  private val selectKw = "(?i)\\bSELECT\\b".r

  def rewriteImpalaHints(sql: String): String = {
    // paren depth + in-literal flag per position (literals escape via '')
    val depth = new Array[Int](sql.length + 1)
    val inLit = new Array[Boolean](sql.length + 1)
    var d = 0; var lit = false
    for (i <- sql.indices) {
      inLit(i) = lit
      val c = sql.charAt(i)
      if (c == '\'') lit = !lit
      else if (!lit && c == '(') d += 1
      else if (!lit && c == ')') d -= 1
      depth(i + 1) = d
    }
    val matches = bracketHint.findAllMatchIn(sql).toList.filterNot(m => inLit(m.start))
    if (matches.isEmpty) return sql
    val selects = selectKw.findAllMatchIn(sql).toList.filterNot(m => inLit(m.start))
    // one combined hint comment per anchoring SELECT, in source order
    val anchored = matches.flatMap { m =>
      val hint = m.group(1).toLowerCase match {
        case "broadcast" => s"BROADCAST(${m.group(2)})"
        case _           => s"SHUFFLE_HASH(${m.group(2)})"
      }
      selects.filter(s => s.end <= m.start && depth(s.start) == depth(m.start))
        .lastOption.map(s => (s.end, hint))
    }
    val byAnchor = anchored.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // apply splices right-to-left so earlier offsets stay valid
    val edits: List[(Int, Int, String)] =
      matches.map(m => (m.start, m.end, s"JOIN ${m.group(2)}")) ++
      byAnchor.toList.map { case (pos, hs) => (pos, pos, s" /*+ ${hs.mkString(", ")} */") }
    val sb = new StringBuilder(sql)
    edits.sortBy(e => (-e._1, -e._2)).foreach { case (s, e, t) => sb.replace(s, e, t) }
    sb.toString
  }
}
