package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session bootstrap for the engine.
  *
  * The reference engine (an Impala fork — see SURVEY.md §0) runs a fixed
  * daemon topology (impalad / statestored / catalogd); on Spark those roles
  * are played by the driver/executors and the catalog, so the "engine" here
  * is a configured [[SparkSession]] plus the dialect surface registered on
  * top of it (function aliases, custom expressions, rewrite rules).
  *
  * Config choices mirror the reference's semantics:
  *  - `ansi=false`: Impala-style permissive casts/overflow
  *    (reference: be/src/exprs/cast-functions.cc).
  *  - CBO + constraint propagation: the reference derives predicates across
  *    join equivalence classes (fe/.../analysis/Analyzer.java:256-268); in
  *    Spark that's `InferFiltersFromConstraints`.
  *  - AQE on: runtime re-planning replaces the reference's static
  *    broadcast-vs-shuffle decision (fe/.../planner/DistributedPlanner.java:284-309)
  *    with a strictly better runtime one.
  *  - [[Tables.SmallSort]]: a global sort over a small input (finished
  *    stages or small file scans) sorts in one partition, with no range
  *    exchange and no sampling job, as the reference's root sort merges
  *    locally sorted runs at the coordinator instead of sampling
  *    (be/src/exec/exchange-node.h, `is_merging_`).
  *
  * A session takes these confs once: [[build]] sets them on the builder,
  * and [[adopt]] applies them to a session the first time it sees it. A
  * later `SET` in the session holds, also across catalog entries, which
  * all route through [[adopt]].
  */
object EngineSession {

  /** Spark confs that define the engine's semantics & scale posture.
    * Applied both when we build the session ourselves and (where dynamic)
    * when we first adopt an externally-built session.
    */
  val staticConfs: Map[String, String] = Map(
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true",
    "spark.sql.constraintPropagation.enabled" -> "true",
    // events.parquet carries TIMESTAMP(NANOS) which Spark cannot represent
    // natively; read as epoch-nanos LongType and convert explicitly.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Our sink side writes timestamps readable by the widest set of readers.
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    // Spark's generated-code cache (one LRU per JVM, in 4 segments)
    // defaults to 100 classes. One sweep of the 134 catalog entries
    // (sf0.001, local[4]) compiles about 2,000 distinct classes and the six
    // bi_sql benchmark entries about 80, so at 100 a session that runs more
    // than a few entries keeps recompiling classes it just evicted. 2500
    // holds the whole catalog with room for segment skew. Static: Spark
    // sizes the cache once per JVM, from the session active at the first
    // compile, so only a session [[build]] creates first in its JVM gets it;
    // an adopted or pre-existing session cannot take a static conf
    // ([[adopt]] skips it) and keeps the size its JVM started with.
    "spark.sql.codegen.cache.maxEntries" -> "2500"
  )

  /** Operator-supplied conf overrides: `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"`,
    * applied AFTER [[staticConfs]] so a deployment can tune the engine's
    * posture (shuffle width, AQE, codegen, memory knobs) without a code
    * fork — the Spark analogue of the reference's impalad startup flags.
    * Also the lever behind the config-axis correctness sweeps: the same
    * catalog must hash identically with AQE off, codegen off, or any
    * shuffle-partition count. */
  def extraConfs: Map[String, String] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(parseExtraConfs).getOrElse(Map.empty)

  private[graft] def parseExtraConfs(raw: String): Map[String, String] =
    raw.split(';').iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
      kv.take(i).trim -> kv.drop(i + 1).trim
    }.toMap

  /** The master this process should use: `SPARK_GRAFT_MASTER` wins over
    * the caller's default — every entry point (build, Verify's adopted
    * session, Bench, FuzzRunner) routes through this so one env var
    * flips the whole catalog onto the multi-JVM axis. */
  def masterOf(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", default)

  /** Extra confs a local-cluster master needs: executors are separate
    * JVMs forked by the standalone Worker, so they must be handed this
    * JVM's classpath (run/test are sbt-forked — java.class.path is the
    * real application classpath) and an executor heap sized into the
    * worker's memory grant (local-cluster[n,c,MEM]). */
  def clusterConfs(master: String): Map[String, String] =
    if (master.startsWith("local-cluster")) Map(
      "spark.executor.extraClassPath" -> sys.props("java.class.path"),
      "spark.executor.memory" ->
        sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
    else Map.empty

  /** Build a local session sized for this container (local[N] threads).
    *
    * `SPARK_GRAFT_MASTER` overrides the master everywhere (Verify, Bench,
    * FuzzRunner, the test session) — the lever for the multi-JVM
    * executor-separation axis: `local-cluster[2,16,4096]` runs a real
    * standalone master + 2 workers forking executor JVMs, so serialized
    * closures, UDA partial buffers crossing real process boundaries, the
    * BlockManager transfer path and the file sinks' task-side commit
    * protocol are all exercised the way a 1000-executor cluster would —
    * none of which local[N] (one JVM, one classloader, shared memory)
    * can test. For local-cluster masters the executors are forked with
    * this JVM's classpath (run/test are forked by sbt, so
    * java.class.path is the real application classpath, including
    * target/scala-2.13/classes).
    */
  def build(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession = {
    val effectiveMaster = masterOf(master)
    val b = SparkSession
      .builder()
      .master(effectiveMaster)
      .appName(appName)
      // Extension-injected optimizer rules join the operator-optimization
      // batch, which runs BEFORE RewriteDistinctAggregates — so the
      // APPX_COUNT_DISTINCT rewrite sees multi-distinct aggregates intact
      // (experimental.extraOptimizations would run after expansion and
      // silently leave them exact). SmallSort joins AQE's query-stage
      // preparation rules, which run after EnsureRequirements on every
      // re-plan.
      .withExtensions { e =>
        e.injectOptimizerRule(_ => graft.plans.AppxCountDistinctRewrite)
        e.injectQueryStagePrepRule(_ => Tables.SmallSort)
      }
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
    clusterConfs(effectiveMaster).foreach { case (k, v) => b.config(k, v) }
    staticConfs.foreach { case (k, v) => b.config(k, v) }
    extraConfs.foreach { case (k, v) => b.config(k, v) }
    // getOrCreate() can hand back a PRE-EXISTING session, for which
    // .withExtensions is silently ignored — that session lacks the
    // injected early-batch rule and must stay on the adopted compensation
    // path, not be marked built (which would permanently suppress it).
    val preexisting =
      SparkSession.getActiveSession.toSet ++ SparkSession.getDefaultSession.toSet
    val spark = b.getOrCreate()
    if (preexisting.contains(spark)) {
      adopt(spark)
    } else {
      builtSessions.put(spark, java.lang.Boolean.TRUE)
      Dialect.registerAll(spark)
      installRules(spark)
    }
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Inject the engine's optimizer rules (idempotent). The custom rules are
    * the APPX_COUNT_DISTINCT rewrite and [[Tables.SmallSort]] — everything
    * else Catalyst already does (SURVEY §4). SmallSort reads the session's
    * AQE coalescing confs on every plan, so a `SET` of them, made before
    * or after a catalog entry is built, decides whether it fires.
    *
    * An adopted session cannot take SmallSort: Spark builds a session's
    * adaptive rules from its extensions, once, when the session state is
    * built. Such a session keeps the range exchange, with the same rows at
    * a higher cost. Sessions from `newSession()` of a built session (such
    * as [[Tables]]' detached sessions) share its extensions and inherit it.
    *
    * Fallback path for ADOPTED sessions only (extensions can't be added to
    * a live session): extraOptimizations run after
    * RewriteDistinctAggregates, so there a query with 2+ DISTINCT
    * aggregates would keep exact semantics under APPX_COUNT_DISTINCT=true.
    * [[sql]] closes that fork for the SQL surface by applying the rewrite
    * to the analyzed plan; DataFrame-API queries with 2+ distinct
    * aggregates on an adopted session remain exact (documented, and warned
    * about by Options.set). Sessions built by [[build]] get the rule via
    * injectOptimizerRule, which runs early enough to catch every
    * COUNT(DISTINCT). */
  private def installRules(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.contains(graft.plans.AppxCountDistinctRewrite)) {
      spark.experimental.extraOptimizations =
        existing :+ graft.plans.AppxCountDistinctRewrite
    }
  }

  /** Sessions [[build]] produced (weak keys — tracking must not keep a
    * stopped session alive). They carry the injected early-batch rule, so
    * [[adopt]] never demotes them to the adopted compensation path even
    * though every SparkEntry catalog wrapper routes through adopt(). */
  private val builtSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** Sessions that came in through [[adopt]] without the injected rule.
    * Their optimizer lacks the early-batch rewrite, so [[sql]]
    * compensates. */
  private val adoptedSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** True if `spark` was handed to [[adopt]] and lacks the injected rule. */
  def isAdopted(spark: SparkSession): Boolean =
    adoptedSessions.containsKey(spark)

  /** Adopt an externally-created session (e.g. the driver's): apply the
    * dynamic confs and register the dialect functions, without restarting.
    * The confs are applied once per session, at its first adopt (a built
    * session took them from its builder): every catalog entry adopts the
    * session it runs in, and re-applying them there would revert the
    * session's own `SET`s.
    */
  def adopt(spark: SparkSession): SparkSession = {
    if (!builtSessions.containsKey(spark))
      adoptedSessions.computeIfAbsent(spark, { s =>
        (staticConfs ++ extraConfs).foreach { case (k, v) =>
          try s.conf.set(k, v)
          catch { case _: org.apache.spark.sql.AnalysisException => () } // static conf on live session
        }
        java.lang.Boolean.TRUE
      })
    Dialect.registerAll(spark)
    installRules(spark)
    spark
  }

  /** Run SQL in the engine's dialect: alias surface registered, Impala
    * bracket plan-hints rewritten to Spark hints.
    *
    * On ADOPTED sessions with APPX_COUNT_DISTINCT=true, the ndv rewrite is
    * applied here to the ANALYZED plan — before the optimizer's
    * RewriteDistinctAggregates can expand multi-distinct aggregates out of
    * the fallback rule's reach — so SQL behaves identically on built and
    * adopted sessions. */
  /** Table-level rename (not RENAME COLUMN / PARTITION … RENAME TO
    * PARTITION): the target table needs its partition metadata repaired
    * after Spark's rename re-escapes partition paths (see
    * [[Ddl.renameTable]]). */
  private val TableRename =
    """(?is)\s*ALTER\s+TABLE\s+\S+\s+RENAME\s+TO\s+([^\s(]+)\s*""".r

  def sql(spark: SparkSession, text: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Command, CommandResult}
    val df = spark.sql(Dialect.rewriteImpalaHints(text))
    text match {
      case TableRename(to) => Ddl.repairPartitionLocations(spark, to)
      case _ => ()
    }
    val appxOn = spark.conf
      .getOption(plans.AppxCountDistinctRewrite.ConfKey)
      .exists(plans.AppxCountDistinctRewrite.parseBool)
    if (appxOn && isAdopted(spark)) {
      df.queryExecution.analyzed match {
        // Command plans (INSERT/CTAS/...) were already EXECUTED eagerly by
        // spark.sql; re-wrapping through Dataset.ofRows would execute the
        // DML a second time (duplicating written data). Their results are
        // row counts / unit, never a COUNT(DISTINCT) surface — return as-is.
        case _: Command | _: CommandResult => df
        case analyzed =>
          val rewritten = plans.AppxCountDistinctRewrite.rewrite(analyzed)
          if (rewritten fastEquals analyzed) df
          else org.apache.spark.sql.graftplan.PlanBridge.ofRows(spark, rewritten)
      }
    } else df
  }
}
