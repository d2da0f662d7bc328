package graft

import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Catalog access for the driver-provided TPC-H-ish parquet tables
  * (TESTDATA.md). Mirrors the reference's catalog model (database → table →
  * files; fe/.../catalog/HdfsTable.java) at the granularity Spark needs:
  * a named view per parquet directory.
  *
  * Scale note: these are plain parquet scans — on a real cluster the same
  * code reads a partitioned table and Catalyst performs partition pruning
  * and predicate pushdown; nothing here assumes single-node layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table `name` under `dir`, read from `dir/name.parquet`.
    *
    * A plain `spark.read.parquet` runs a Spark job to infer the schema from
    * the file footers on every call. Instead each session resolves a path's
    * schema once, keeps it in its table-metadata cache, and later loads read
    * with `spark.read.schema(cached).parquet(path)`: no job, no footer read.
    * The entry is keyed by the path, the length and modification time of
    * every file the load lists, and the session's values of the parquet
    * schema-inference confs ([[InferenceConfs]]). Every load still lists the
    * path, so when a file is added, removed or rewritten (a `TableSink`
    * write, an in-place rewrite that changes its length or mtime) or one of
    * those confs changes, the entry no longer matches and the schema is
    * inferred again. Every load also
    * builds a new relation, so each gets fresh expression ids (self-joins
    * work as with an uncached read). The cache lives as long as its session
    * and holds one entry per path. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEvents(df) else df
  }

  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val schemas = metadataOf(spark).schemas
    val confs = InferenceConfs.map(spark.sessionState.conf.getConf(_))
    val hit = Option(schemas.get(path)).filter(_.confs == confs).flatMap { known =>
      val df = spark.read.schema(known.schema).parquet(path)
      if (fileStamps(df.queryExecution.analyzed) == known.files) Some(df) else None
    }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      schemas.put(path, KnownSchema(fileStamps(df.queryExecution.analyzed), confs, df.schema))
      df
    }
  }

  /** The session confs parquet schema inference reads. */
  private val InferenceConfs = Seq(
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED)

  /** One listed file: an entry read from it holds while these match. */
  private final case class FileStamp(path: String, len: Long, mtime: Long)
  private final case class KnownSchema(files: Set[FileStamp], confs: Seq[Boolean], schema: StructType)

  /** A plan with its parquet leaves replaced by their output, and the read
    * options of each leaf. It holds no session, so a cache entry cannot keep
    * one alive. */
  private final case class PlanKey(plan: LogicalPlan, options: Seq[Map[String, String]])
  private final case class KnownRows(files: Seq[Set[FileStamp]], rows: Array[Row])

  /** A session's table metadata: schemas by table path, parquet row-group
    * counts by file path, collected corpus statistics by plan and the file
    * stamps of persisted stage boundaries by plan, each valid while its file
    * stamps still match. A changed file replaces its path's or plan's entry,
    * so a long-lived session holds one entry of each. The boundaries' data
    * lives in Spark's cache; this map holds no DataFrame, since one holds its
    * session and would keep the weak key below alive. */
  private final class Metadata {
    val schemas = new ConcurrentHashMap[String, KnownSchema]
    val rowGroups = new ConcurrentHashMap[String, (FileStamp, Long)]
    val statistics = new ConcurrentHashMap[PlanKey, KnownRows]
    val persisted = new ConcurrentHashMap[PlanKey, Seq[Set[FileStamp]]]
  }

  // Weak keys, as for `registered`: the cache must not keep a dropped
  // session (or its catalog) alive.
  private val metadata =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, Metadata])

  private def metadataOf(spark: SparkSession): Metadata =
    metadata.computeIfAbsent(spark, _ => new Metadata)

  private def fileStamps(index: FileIndex): Seq[FileStamp] =
    index.listFiles(Nil, Nil).flatMap(_.files)
      .map(f => FileStamp(f.getPath.toString, f.getLen, f.getModificationTime))

  private def fileStamps(plan: LogicalPlan): Set[FileStamp] =
    plan.collectLeaves().flatMap(parquetIndex).flatMap(fileStamps).toSet

  /** The file index of a parquet file-scan leaf. */
  private def parquetIndex(leaf: LogicalPlan): Option[FileIndex] = leaf match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] => Some(fs.location)
      case _ => None
    }
    case _ => None
  }

  /** `df`'s plan key and the stamps of the files each parquet leaf lists:
    * the canonicalized plan, the notion of "same query" Spark's CacheManager
    * matches cached data by, with each parquet leaf replaced by its output
    * and read options. None when the plan has a nondeterministic expression
    * or a leaf that is not a parquet file scan. */
  private def stamped(df: DataFrame): Option[(PlanKey, Seq[Set[FileStamp]])] = {
    val plan = df.queryExecution.analyzed
    val leaves = plan.collectLeaves().map {
      case lr: LogicalRelation => parquetIndex(lr).map(i => lr -> i)
      case _ => None
    }
    if (leaves.exists(_.isEmpty) || plan.find(_.expressions.exists(!_.deterministic)).isDefined)
      return None
    val scans = leaves.flatten
    val key = PlanKey(
      plan.transform { case lr: LogicalRelation => LocalRelation(lr.output) }.canonicalized,
      scans.map(_._1.relation.asInstanceOf[HadoopFsRelation].options))
    Some(key -> scans.map { case (_, index) => fileStamps(index).toSet })
  }

  /** The rows of `df`, a small deterministic statistic of a corpus (an ANN
    * index's per-dimension means, say), collected once per session while
    * its plan and the files behind it are unchanged: a later call for the
    * same plan reads the kept rows and runs no Spark job. The entry is keyed
    * by [[stamped]]'s plan key and holds while the stamps of the files each
    * leaf lists still match. A different filter, projection or source
    * therefore collects into its own entry, and a rewritten, added or
    * removed file collects again. A plan the key rejects is collected on
    * every call. */
  private[graft] def collectOnce(df: DataFrame): Array[Row] = stamped(df) match {
    case None => df.collect()
    case Some((key, files)) =>
      val known = metadataOf(df.sparkSession).statistics
      Option(known.get(key)).filter(_.files == files).map(_.rows).getOrElse {
        val rows = df.collect()
        known.put(key, KnownRows(files, rows))
        rows
      }
  }

  /** The stage boundary `boundary(spark)`, which several consumers read,
    * persisted and materialized once per session while its plan and the
    * files behind it are unchanged. The entry is keyed and stamped as in
    * [[collectOnce]]. On a miss or a changed stamp the plan is first
    * unpersisted: Spark's CacheManager is shared by every session and
    * matches a parquet leaf by its root path, not its contents, so a copy
    * persisted before a rewrite, by this session or another, would
    * otherwise be served. A copy is then persisted and counted. On a hit it
    * is persisted and counted again only when no copy is resident (after a
    * `clearCache`). A plan the key rejects is returned unpersisted.
    *
    * The persisted copy is `boundary` built again in a [[detached]] session:
    * the CacheManager keeps the plan it caches, and a parquet relation holds
    * the session that read it, so a copy built in `spark` would keep a
    * dropped client session reachable. Both plans are the same query, so the
    * frame returned, built in `spark`, reads the copy. */
  private[graft] def persistOnce(spark: SparkSession)(
      boundary: SparkSession => DataFrame): DataFrame = {
    val df = boundary(spark)
    stamped(df).foreach { case (key, files) =>
      val known = metadataOf(spark).persisted
      val changed = known.get(key) != files
      if (changed || df.storageLevel == StorageLevel.NONE) {
        if (changed) df.unpersist(blocking = true)
        val copy = boundary(detached(spark))
        copy.persist()
        copy.count()
        known.put(key, files)
      }
    }
    df
  }

  /** A new session of `spark`'s context with the engine's functions and
    * rules and `spark`'s SQL confs. It holds no reference to `spark`. */
  private def detached(spark: SparkSession): SparkSession = {
    val owner = EngineSession.adopt(spark.newSession())
    spark.sessionState.conf.getAllConfs.foreach { case (k, v) =>
      owner.sessionState.conf.setConfString(k, v)
    }
    owner
  }

  /** Source bytes below which [[parallelized]] leaves a scan alone. */
  private val FloorBytes = 4L * 1024 * 1024
  /** Source bytes below which [[parallelizedHeavy]] leaves a scan alone. */
  private val HeavyFloorBytes = 256L * 1024
  /** Source bytes per task of a spreading exchange ([[spreadWidth]]). */
  private val BytesPerTask = 64L * 1024

  /** Source-parallelism floor: one round-robin exchange ahead of per-row
    * work when the scan below would run it on fewer tasks than cores.
    *
    * Parquet splits only at row-group boundaries, so a single-row-group
    * file yields ONE working split however many byte ranges the planner
    * cuts, and every operator fused into the scan stage runs on one core.
    * The floor therefore counts working splits as min(planned splits,
    * row groups), reading the row groups from the parquet footers (one
    * cached metadata read per file), and skips when they reach the cores.
    * Footer counts cannot see filter pruning — a pushed-down filter drops
    * row groups by their min/max stats — so a plan with a Filter must
    * reach 2 × cores instead.
    *
    * Otherwise the floor fires once the source's on-disk bytes (file-index
    * sizes, not the CBO estimate, which column pruning shrinks) reach the
    * gate. Gates follow per-row cost: this 4 MB gate suits light work
    * (filters, bucket assignment), where a smaller source's exchange costs
    * as much as the work it spreads; [[parallelizedHeavy]]'s 256 KB gate
    * suits heavy work (md5 cascades, shingle explodes, regex stats). The
    * exchange is [[spreadWidth]] wide with cap max(cores, planned splits).
    *
    * Call it after slicing and selecting (pushdown happens at the scan,
    * below the exchange). A scan over many files or row groups passes
    * through unchanged. */
  def parallelized(df: DataFrame): DataFrame = floored(df, FloorBytes)

  /** [[parallelized]] with the 256 KB gate, for heavy per-row work. */
  def parallelizedHeavy(df: DataFrame): DataFrame = floored(df, HeavyFloorBytes)

  /** Spread a slim relation ahead of a row explosion AQE cannot see. AQE
    * coalesces shuffle reads by bytes, so a few-KB aggregate output (capped
    * LSH buckets) lands on one task even when each row expands into a
    * quadratic pair list. Always one round-robin exchange, [[spreadWidth]]
    * wide with cap max(cores, spark.sql.shuffle.partitions); the width is
    * sized from the source leaves because the relation itself only exists
    * at run time. The caller guarantees the relation is slim (bucket rows
    * capped at a maximum id count), since it is shuffled at any scale. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(spreadWidth(leafBytes(df), shuffleCap(df)))

  /** [[spread]] for a corpus-sized aggregate output that feeds heavy per-row
    * work (shingle explodes, per-shingle hash cascades), skipped once the
    * source reaches cap × spark.sql.adaptive.advisoryPartitionSizeInBytes:
    * AQE then reads the aggregate output at least cap wide by itself, and
    * a large corpus pays no extra full shuffle. */
  def spreadSmall(df: DataFrame): DataFrame = {
    val cap = shuffleCap(df)
    val bytes = leafBytes(df)
    val advisory =
      df.sparkSession.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (bytes >= BigInt(cap) * advisory) df else df.repartition(spreadWidth(bytes, cap))
  }

  /** A global sort over a small run-time input sorts in one partition: no
    * range exchange samples its input for bounds. Under AQE every global
    * ORDER BY plans a range exchange, which costs a sampling job (one more
    * evaluation of the whole input) and a map job, and AQE then reads a
    * small sorted output as one partition anyway.
    *
    * The rule matches a global `SortExec` over the range exchange
    * `EnsureRequirements` planned for it (a `repartitionByRange` has another
    * origin and is left alone). It fires only when every leaf below that
    * exchange is a materialized query stage, so every size it reads was
    * measured at run time, and the sort input (the logical stats over those
    * stages) is at most B, the size below which AQE's coalescing reads a
    * shuffle as one partition: `coalescePartitions.minPartitionSize` while
    * `coalescePartitions.parallelismFirst` is on (the engine's default),
    * `advisoryPartitionSizeInBytes` while it is off, and never while
    * coalescing is off. Then:
    *  - when the finished stages below total at most B, AQE reads them in
    *    one task already, so the exchange becomes a one-partition
    *    `CoalesceExec`: no sampling job and no map job;
    *  - otherwise it becomes a single-partition shuffle. The map side keeps
    *    its width, so a floor's spreading still holds, and only the
    *    sampling job goes.
    *
    * Injected by [[EngineSession.build]] as a query-stage preparation rule,
    * which AQE runs after `EnsureRequirements` on every re-plan. */
  object SmallSort extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan = oneTaskBytes.fold(plan) { bound =>
      plan.transformUp {
        case sort @ SortExec(_, true, ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
            if child.collectLeaves().forall {
              case s: QueryStageExec => s.isMaterialized
              case _ => false
            } && child.logicalLink.exists(_.stats.sizeInBytes <= bound) =>
          val stages = child.collectLeaves()
            .map(_.asInstanceOf[QueryStageExec].getRuntimeStatistics.sizeInBytes).sum
          sort.withNewChildren(Seq(
            if (stages <= bound) CoalesceExec(1, child)
            else ShuffleExchangeExec(SinglePartition, child, ENSURE_REQUIREMENTS)))
      }
    }

    /** B: the shuffle size AQE's coalescing reads as one partition. */
    private def oneTaskBytes: Option[Long] =
      if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) None
      else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }

  /** Both conditions must hold to spread, so the cheap one goes first: an
    * under-gate source costs no physical planning and no footer read. */
  private def floored(df: DataFrame, gateBytes: Long): DataFrame = {
    val bytes = leafBytes(df)
    if (bytes < gateBytes) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val parts = plannedSplits(df)
    // None (non-parquet or local leaves) falls back to the planned count
    val working = sourceRowGroups(df).fold(parts.toLong)(math.min(parts.toLong, _))
    val hasFilter = df.queryExecution.optimizedPlan.find(_.isInstanceOf[Filter]).isDefined
    val need = if (hasFilter) 2L * cores else cores.toLong
    if (working >= need) df else df.repartition(spreadWidth(bytes, math.max(cores, parts)))
  }

  /** The partitions `df` reads its source in, taken from its own physical
    * plan: a file scan's splits or a cached relation's blocks, when only
    * projections and filters sit above that one leaf (the shape of every
    * floored relation). That is the count `df.rdd.getNumPartitions` gives,
    * without a second planning pass and its code generation. Any other
    * shape falls back to `df.rdd`. */
  private[graft] def plannedSplits(df: DataFrame): Int = {
    def splits(p: SparkPlan): Option[Int] = p match {
      case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
      case s: InMemoryTableScanExec =>
        Some(s.relation.cacheBuilder.cachedColumnBuffers.getNumPartitions)
      case _: ProjectExec | _: FilterExec => splits(p.children.head)
      case _ => None
    }
    splits(df.queryExecution.sparkPlan).getOrElse(df.rdd.getNumPartitions)
  }

  /** The one width rule of every spreading exchange: a task per 64 KB of
    * source, clamped to [1, cap]. A few hundred KB sprayed over dozens of
    * tasks costs more in task dispatch than it saves, so small sources get
    * narrow exchanges; the width reaches the cap at cap × 64 KB. With a
    * floor's cap of max(cores, planned splits), a source between
    * cores × 64 KB and planned × 64 KB therefore gets more than cores
    * tasks but fewer than its planned splits. */
  private def spreadWidth(bytes: BigInt, cap: Int): Int =
    (bytes / BytesPerTask + 1).min(cap).max(1).toInt

  private def shuffleCap(df: DataFrame): Int = {
    val s = df.sparkSession
    math.max(s.sparkContext.defaultParallelism, s.sessionState.conf.numShufflePartitions)
  }

  /** Total parquet row groups behind the plan's file-scan leaves, from
    * the file FOOTERS (a metadata read, not a scan). Each file's count is
    * kept in the session's table-metadata cache until the file's length or
    * mtime changes. None when any leaf is not a parquet file scan
    * (local/cached relations, other formats) — callers then fall back to
    * planned-split counts. */
  private[graft] def sourceRowGroups(df: DataFrame): Option[Long] = {
    val known = metadataOf(df.sparkSession).rowGroups
    lazy val conf = df.sparkSession.sessionState.newHadoopConf()
    def rowGroups(f: FileStamp): Long = Option(known.get(f.path)).collect {
      case (stamp, n) if stamp == f => n
    }.getOrElse {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.path), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val n = try r.getRowGroups.size.toLong finally r.close()
      known.put(f.path, (f, n))
      n
    }
    val counts = df.queryExecution.optimizedPlan.collectLeaves()
      .map(parquetIndex(_).map(fileStamps(_).map(rowGroups).sum))
    if (counts.nonEmpty && counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** Actual bytes behind a plan's source leaves: file-index sizes for
    * file scans (exact, estimate-free); plan-stats sizeInBytes for
    * non-file leaves (local/cached relations — there the "estimate" IS
    * the materialized size). */
  private[graft] def leafBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case lr: LogicalRelation => BigInt(lr.relation.sizeInBytes)
      case other => other.stats.sizeInBytes
    }.sum

  /** events.ts is parquet TIMESTAMP(NANOS), surfaced as epoch-nano Long
    * (spark.sql.legacy.parquet.nanosAsLong) — convert to a proper
    * microsecond timestamp column, preserving the original name.
    *
    * Exactness: `div` is integer long division (epoch-nanos ~1.7e18 exceed
    * double's 2^53 exact range, so `/` would round ~12% of values off by
    * 1µs). The result is cast to timestamp_ntz to match how DuckDB reads
    * the same column (isAdjustedToUTC=false → naive timestamp); session TZ
    * is UTC so the instant is unchanged.
    */
  private def normalizeEvents(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else df

  /** Register every table as a temp view in `spark`'s catalog. This also
    * fills the session's table-metadata cache (see [[load]]), so the
    * catalog calls that follow pay no schema-inference job.
    *
    * The tables load concurrently, one thread each, so their schema
    * inferences overlap instead of running one job at a time; the views are
    * then registered in [[all]] order on the calling thread. Every load is
    * awaited; if any failed, the first failure in [[all]] order is rethrown
    * and no view is registered. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val pool = Executors.newFixedThreadPool(all.size)
    val loads = try pool.invokeAll(all.map { n =>
      new Callable[DataFrame] {
        def call(): DataFrame = {
          SparkSession.setActiveSession(spark)
          load(spark, dir, n)
        }
      }
    }.asJava).asScala finally pool.shutdown()
    val dfs = loads.map(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
    all.zip(dfs).foreach { case (n, df) => df.createOrReplaceTempView(n) }
  }

  // Temp views are session-global, so memoizing every (session, dir) pair
  // is wrong: after views point at dir B, a call for previously-seen dir A
  // would be skipped and silently read B's data. Track the ONE currently
  // registered dir per session and re-register whenever it differs. Weak
  // keys: tracking a session must not keep it (and its catalog) alive.
  private val registered =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, String])

  /** Idempotent view registration; cheap when `dir` is already current. */
  def ensureViews(spark: SparkSession, dir: String): Unit =
    registered.compute(spark, { (s, cur) =>
      if (cur != dir) registerAll(s, dir)
      dir
    })
}
