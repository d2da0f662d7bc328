package graft.operators

import graft.SparkSpec
import graft.functions.{TextLexicon, TextStats, TextStopwords}
import graft.queries.LlmOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Lower}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Differential test of the `text_stats`, `text_stopwords` and
  * `text_lexicon` kernels: every
  * `TextAnalysis` document metric must equal, row for row and bit for bit,
  * the builtin composition it was before the kernels
  * ([[TextStatsSpec.Reference]]), on edge cases, generated strings and the
  * benchmark corpus, under whole-stage codegen and interpreted evaluation
  * alike. */
class TextStatsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import TextStatsSpec.Reference

  private val corpusDir = "perfbench/data/sf0.1"

  private val edgeCases: Seq[String] = Seq(
    null, "", " ", "   ", "\t", " \t ", "\tthe cat", "\u000Bthe a", "\fand of", "\rthe\r",
    "the\t", "a \t\n b", "  the  a  of  ", "the a is", "\u3000the", "_the_ the_ _a a_",
    "a1 1a 123 45.6 the 7", "(and) the, la. est! (es) \"que\" 'y' der-die",
    "THE AND OF IS A DER DIE DAS UND IST LE LA ET EST LES EL LOS ES Y QUE",
    "The Der La El", "thé the", "\u0301the", "the\u0301 a", "éthe aé", "der\u0301 die",
    "\u0130 \u0130s is \u0131s \u0130stanbul the \u0130T", "\u212Athe \u212A a", "中文 the 的 a", "中",
    "😀 the 𝔘 a 😀😀", "a😀the",
    "y", "que", "les les les", "es-est", "la_la", "isn't it a test", "...!!!???",
    "0123456789", "é", "日本語のテキスト", "the\nthe\nthe", "to in is it that for",
    "for that it is in to of a and the")

  /** Seeded strings over markers, stopwords, every `\s` character, the
    * punctuation and digit sets, `_`, accented and Turkish letters, the
    * Kelvin sign, combining marks, CJK and supplementary code points. */
  private def generated(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val pieces = Array("the", "The", "THE", "and", "of", "is", "a", "A", "der", "Die",
      "das", "und", "ist", "le", "la", "et", "est", "les", "el", "los", "es", "y", "que",
      "to", "in", "it", "that", "for", "word", "tha", "théa", "x", "_", "__a", "1", "42",
      "3.14", " ", "  ", "\t", "\n", "\u000B", "\f", "\r", " ", ".", ",", ";", ":",
      "!", "?", "'", "\"", "(", ")", "-", "é", "É", "ß", "\u0130", "\u0131", "\u212A", "\u0301",
      "\u0308", "中", "文字", "😀", "𝔘", "@", "#", "/", "ç", "ñ")
    (0 until n).map { _ =>
      val len = rnd.nextInt(24)
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        sb.append(pieces(rnd.nextInt(pieces.length)))
        if (rnd.nextInt(3) == 0) sb.append(' ')
      }
      sb.toString
    }
  }

  private val metricNames = Seq("tokenCount", "bpeTokenCount", "avgTokenLen",
    "stopwordRatio", "punctRatio", "digitRatio", "qualityScore", "langGuess")

  private def metrics(text: Column): Seq[Column] = Seq(
    TextAnalysis.tokenCount(text), TextAnalysis.bpeTokenCount(text),
    TextAnalysis.avgTokenLen(text), TextAnalysis.stopwordRatio(text),
    TextAnalysis.punctRatio(text), TextAnalysis.digitRatio(text),
    TextAnalysis.qualityScore(text), TextAnalysis.langGuess(text))

  private def reference(text: Column): Seq[Column] = Seq(
    Reference.tokenCount(text), Reference.bpeTokenCount(text),
    Reference.avgTokenLen(text), Reference.stopwordRatio(text),
    Reference.punctRatio(text), Reference.digitRatio(text),
    Reference.qualityScore(text), Reference.langGuess(text))

  /** Doubles compare by bits (so -0.0 differs from 0.0 and NaN equals
    * itself); everything else by value. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case _ => a == b
  }

  /** Rows of (text, metric, kernel value, reference value) that differ. */
  private def mismatches(texts: DataFrame): Seq[(String, String, Any, Any)] = {
    val t = col("text")
    val rows = texts.select((t +: (metrics(t) ++ reference(t))): _*).collect()
    val k = metricNames.size
    for {
      r <- rows.toSeq
      (name, j) <- metricNames.zipWithIndex
      if !same(r.get(1 + j), r.get(1 + k + j))
    } yield (r.getString(0), name, r.get(1 + j), r.get(1 + k + j))
  }

  private def textFrame(texts: Seq[String]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(Row(_)), 4), schema)
  }

  private def assertNoMismatch(texts: DataFrame): Unit = {
    val bad = mismatches(texts)
    assert(bad.isEmpty, s"${bad.size} mismatches, first: ${bad.take(5).mkString("; ")}")
  }

  private def withConfs(kv: (String, String)*)(body: => Unit): Unit = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every metric equals the builtin composition on edge cases and generated strings") {
    assertNoMismatch(textFrame(edgeCases ++ generated(4000, seed = 7L)))
  }

  test("every metric equals the builtin composition on the benchmark's 5,000 documents") {
    val docs = graft.Tables.load(spark, corpusDir, "documents").select(col("text"))
    assert(docs.count() == 5000)
    assertNoMismatch(docs)
  }

  test("interpreted evaluation agrees with the builtin composition") {
    withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertNoMismatch(textFrame(edgeCases ++ generated(500, seed = 11L)))
    }
  }

  test("null text keeps the builtin composition's values (size(null) = -1)") {
    val r = textFrame(Seq(null)).select(metrics(col("text")): _*).collect()(0)
    assert(r.toSeq === Seq(-1, null, null, -1.0, null, null, 0.0, "und"))
  }

  /** Expressions of the operators one whole-stage-codegen stage fuses. */
  private def fused(stage: WholeStageCodegenExec): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(walk)
    }
    walk(stage.child)
  }

  /** Kernel calls in `ps`' expressions: (text_stats, text_stopwords,
    * text_lexicon). */
  private def kernelCalls(ps: Seq[SparkPlan]): (Int, Int, Int) = {
    val es = ps.flatMap(_.expressions)
    (es.map(_.collect { case e: TextStats => e }.size).sum,
      es.map(_.collect { case e: TextStopwords => e }.size).sum,
      es.map(_.collect { case e: TextLexicon => e }.size).sum)
  }

  /** Distinct calls of each kernel and of `lower` in `plan`'s expressions
    * (a metric repeats a kernel's struct in its tree; Spark's
    * subexpression elimination evaluates each distinct call once). */
  private def distinctCalls(plan: SparkPlan): (Int, Int, Int, Int) = {
    val es = collect(plan) { case p => p.expressions }.flatten
    def n(pf: PartialFunction[Expression, Expression]) =
      es.flatMap(_.collect(pf)).map(_.canonicalized).distinct.size
    (n { case e: TextStats => e }, n { case e: TextStopwords => e },
      n { case e: TextLexicon => e }, n { case e: Lower => e })
  }

  test("q_text_stats plans one call of each kernel inside whole-stage codegen, no fallback") {
    val df = LlmOps.qTextStats(spark, corpusDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val allExprs = collect(plan) { case p => p.expressions }.flatten
    val fallbacks = allExprs.flatMap(_.collect { case e: CodegenFallback => e.prettyName })
    assert(fallbacks.isEmpty, s"CodegenFallback expressions: ${fallbacks.mkString(", ")}")
    val inCodegen = kernelCalls(collect(plan) { case s: WholeStageCodegenExec => fused(s) }.flatten)
    assert(kernelCalls(collect(plan) { case p => p }) === ((1, 1, 1)), plan.toString)
    assert(inCodegen === ((1, 1, 1)), plan.toString)
  }

  test("a metric plans only the kernels it reads; lower() for word kernels") {
    val texts = textFrame(Seq("the cat"))
    // (text_stats, text_stopwords, text_lexicon, lower) per metric, in
    // metricNames order: the stopword metrics plan no marker scan
    val expected = Seq((1, 0, 0, 0), (1, 0, 0, 0), (1, 0, 0, 0), (1, 1, 0, 1), (1, 0, 0, 0),
      (1, 0, 0, 0), (1, 1, 0, 1), (0, 0, 1, 1))
    metricNames.zip(metrics(col("text"))).zip(expected).foreach { case ((name, m), calls) =>
      val plan = texts.select(m).queryExecution.executedPlan
      assert(distinctCalls(plan) === calls, s"$name: $plan")
    }
  }
}

object TextStatsSpec {

  /** The builtin compositions the kernel metrics replaced, kept as
    * the differential reference. */
  object Reference {
    private def tokens(text: Column): Column = split(trim(text), "\\s+")

    def tokenCount(text: Column): Column =
      when(length(trim(text)) === 0, 0).otherwise(size(tokens(text)))

    def bpeTokenCount(text: Column): Column = regexp_count(text, lit("\\w+|[^\\w\\s]"))

    private def countChars(text: Column, chars: String): Column =
      length(text) - length(translate(text, chars, ""))

    def avgTokenLen(text: Column): Column =
      (length(text) - countChars(text, " \t\n\u000B\f\r")).cast("double") / tokenCount(text)

    def punctRatio(text: Column): Column =
      countChars(text, ".,;:!?'\"()-").cast("double") / greatest(length(text), lit(1))

    def digitRatio(text: Column): Column =
      countChars(text, "0123456789").cast("double") / greatest(length(text), lit(1))

    private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

    def stopwordRatio(text: Column): Column =
      size(filter(tokens(lower(text)), t => t.isin(enStop: _*))).cast("double") /
        greatest(tokenCount(text), lit(1))

    def qualityScore(text: Column): Column = {
      val lenScore = least(length(text).cast("double") / 400.0, lit(1.0))
      val fluency = least(stopwordRatio(text) * 5.0, lit(1.0))
      val noise = punctRatio(text) + digitRatio(text)
      greatest(lit(0.0), least(lit(1.0),
        lenScore * 0.4 + fluency * 0.4 + (lit(0.2) - least(noise, lit(0.2)))))
    }

    def langGuess(text: Column): Column = {
      val t = lower(text)
      def hits(words: Seq[String]): Column =
        size(array_distinct(regexp_extract_all(
          t, lit("\\b(" + words.mkString("|") + ")\\b"), lit(1))))
      val en = hits(Seq("the", "and", "of", "is", "a"))
      val de = hits(Seq("der", "die", "das", "und", "ist"))
      val fr = hits(Seq("le", "la", "et", "est", "les"))
      val es = hits(Seq("el", "los", "es", "y", "que"))
      val zh = when(t.rlike("[\\u4e00-\\u9fff]"), 5).otherwise(0)
      when(greatest(en, de, fr, es, zh) === 0, "und")
        .when(zh >= greatest(en, de, fr, es), "zh")
        .when(de > greatest(en, fr, es), "de")
        .when(fr > greatest(en, es), "fr")
        .when(es > en, "es")
        .otherwise("en")
    }
  }
}
