package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

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

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEvents(df) else df
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

  private def floored(df: DataFrame, gateBytes: Long): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val parts = df.rdd.getNumPartitions
    // None (non-parquet or local leaves) falls back to the planned count
    val working = sourceRowGroups(df).fold(parts.toLong)(math.min(parts.toLong, _))
    val hasFilter = df.queryExecution.optimizedPlan
      .find(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]).isDefined
    val need = if (hasFilter) 2L * cores else cores.toLong
    if (working >= need) return df
    val bytes = leafBytes(df)
    if (bytes < gateBytes) df else df.repartition(spreadWidth(bytes, math.max(cores, parts)))
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

  // Footer reads are pure metadata (file immutable within a run); cache by
  // path so each file pays one footer read per JVM.
  private val rowGroupCache = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Total parquet row groups behind the plan's file-scan leaves, from
    * the file FOOTERS (a metadata read, not a scan). None when any leaf
    * is not a parquet file scan (local/cached relations, other formats) —
    * callers then fall back to planned-split counts. */
  private[graft] def sourceRowGroups(df: DataFrame): Option[Long] = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val counts = leaves.map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if fs.fileFormat.isInstanceOf[
                org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
            Some(fs.location.inputFiles.map { p =>
              rowGroupCache.computeIfAbsent(p, path => {
                val in = org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromPath(new org.apache.hadoop.fs.Path(path), conf)
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                try r.getRowGroups.size.toLong finally r.close()
              })
            }.sum)
          case _ => None
        }
      case _ => None
    }
    if (counts.nonEmpty && counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** Actual bytes behind a plan's source leaves: file-index sizes for
    * file scans (exact, estimate-free); plan-stats sizeInBytes for
    * non-file leaves (local/cached relations — there the "estimate" IS
    * the materialized size). */
  private[graft] def leafBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        BigInt(lr.relation.sizeInBytes)
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

  /** Register every table as a temp view in `spark`'s catalog. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

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
