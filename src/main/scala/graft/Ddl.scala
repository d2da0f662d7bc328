package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** DDL / utility statement shims (SURVEY §2.12) — the reference's
  * non-query surface mapped onto Spark SQL DDL. Most statements are 1:1
  * (`CREATE/DROP/ALTER`, `SHOW`, `DESCRIBE` pass straight through
  * `spark.sql`); the shims below cover the Impala-isms that need a
  * translation:
  *
  *  - `CREATE TABLE ... LIKE PARQUET 'file'` (CreateTableLikeFileStmt.java):
  *    schema lifted from a parquet footer.
  *  - `COMPUTE STATS t` (ComputeStatsStmt.java) → `ANALYZE TABLE`.
  *  - `INVALIDATE METADATA` / `REFRESH t` (ResetMetadataStmt.java) →
  *    `REFRESH TABLE`.
  */
object Ddl {

  /** Schema from a parquet file/directory footer. */
  def schemaFromParquet(spark: SparkSession, path: String): StructType =
    spark.read.parquet(path).schema

  /** `CREATE TABLE name LIKE PARQUET 'schemaFile' [LOCATION loc]`. */
  def createTableLikeParquet(
      spark: SparkSession, name: String, schemaFile: String,
      location: Option[String] = None): Unit = {
    val schema = schemaFromParquet(spark, schemaFile)
    val ddlCols = schema.toDDL
    val locClause = location.map(l => s" LOCATION '$l'").getOrElse("")
    spark.sql(s"CREATE TABLE $name ($ddlCols) USING parquet$locClause")
  }

  /** `COMPUTE STATS t` → table + column statistics for the CBO (the
    * reference's stats feed its join-order cost model the same way). */
  def computeStats(spark: SparkSession, table: String): Unit =
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR ALL COLUMNS")

  /** `COMPUTE INCREMENTAL STATS t [PARTITION (spec)]` (reference:
    * ComputeStatsStmt.java incremental path, be/src/exec/incr-stats-util.cc):
    * stats are maintained per partition and only partitions that lack them
    * are (re)scanned, so adding one partition to a 10k-partition table
    * costs one partition's scan, not the table's. Spark stores per-partition
    * stats the same way (`ANALYZE TABLE ... PARTITION`); the incremental
    * delta — skip partitions that already have row counts — is this shim.
    * With `spec` only that partition is analyzed (the reference's explicit
    * PARTITION form). Returns the number of partitions analyzed.
    *
    * Non-partitioned tables: `listPartitions` raises AnalysisException —
    * callers should use [[computeStats]] (full ANALYZE) for those, as the
    * reference does for its non-incremental path. */
  def computeIncrementalStats(
      spark: SparkSession, table: String, spec: Option[String] = None): Int = spec match {
    case Some(s) =>
      spark.sql(s"ANALYZE TABLE $table PARTITION ($s) COMPUTE STATISTICS")
      1
    case None =>
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val missing = spark.sessionState.catalog.listPartitions(ident)
        .filter(p => p.stats.isEmpty)
      missing.foreach { p =>
        // Partition values are data, not SQL: escape embedded quotes and
        // route the null partition through its sentinel so a value like
        // "O'Brien" can't produce a malformed / mis-targeted ANALYZE.
        val clause = p.spec.map { case (k, v) =>
          s"`$k`='${v.replace("\\", "\\\\").replace("'", "\\'")}'"
        }.mkString(", ")
        spark.sql(s"ANALYZE TABLE $table PARTITION ($clause) COMPUTE STATISTICS")
      }
      missing.size
  }

  /** `INVALIDATE METADATA t` / `REFRESH t`. */
  def refresh(spark: SparkSession, table: String): Unit =
    spark.sql(s"REFRESH TABLE $table")

  /** `SHOW CREATE TABLE t` (ToSqlUtils.java in the reference FE): the
    * re-creatable DDL text. */
  def showCreateTable(spark: SparkSession, table: String): String =
    spark.sql(s"SHOW CREATE TABLE $table").collect()(0).getString(0)

  /** `DESCRIBE [FORMATTED] t` passthrough. */
  def describe(spark: SparkSession, table: String, formatted: Boolean = false): DataFrame =
    spark.sql(s"DESCRIBE ${if (formatted) "FORMATTED " else ""}$table")

  // ------------------------------------------------------------------
  // ALTER TABLE family (reference: fe/.../analysis/AlterTable*.java)
  // ------------------------------------------------------------------

  /** `ALTER TABLE t ADD COLUMNS (c1 T1, ...)` — passthrough (appended
    * columns read as NULL from files written before the change, matching
    * the reference's by-name parquet resolution). */
  def addColumns(spark: SparkSession, table: String, colsDdl: String): Unit =
    spark.sql(s"ALTER TABLE $table ADD COLUMNS ($colsDdl)")

  /** `ALTER TABLE t RENAME TO t2` — passthrough plus a partition-location
    * repair (r12, found by the seed-56 DDL fuzz corpus): renaming a
    * MANAGED partitioned table moves the table directory with its
    * correctly-escaped partition subdirs intact, but the session
    * catalog's partition metadata comes back with the escaped directory
    * name RE-escaped (`p=Supplier%23…` on disk vs `…%252523…` in the
    * catalog for a `#`-valued partition), so those partitions read zero
    * rows and a later DROP PARTITION deletes the wrong path. The spec
    * map itself survives the rename unmangled, so the repair recomputes
    * each partition's canonical location from its spec under the new
    * table dir and rewrites only the entries that drifted. */
  def renameTable(spark: SparkSession, table: String, to: String): Unit = {
    spark.sql(s"ALTER TABLE $table RENAME TO $to")
    repairPartitionLocations(spark, to)
  }

  /** Re-point every partition of a MANAGED partitioned table at the
    * canonical `<tableDir>/<escaped spec path>` location (Hive layout —
    * the layout Spark's own INSERT writes). No-op for unpartitioned,
    * external, or already-consistent tables. Metadata-only: it never
    * touches the filesystem. */
  def repairPartitionLocations(spark: SparkSession, table: String): Unit = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogTableType, ExternalCatalogUtils}
    import org.apache.hadoop.fs.Path
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = cat.getTableMetadata(ident)
    if (meta.partitionColumnNames.nonEmpty &&
        meta.tableType == CatalogTableType.MANAGED) {
      val tableDir = new Path(meta.location)
      val drifted = cat.listPartitions(ident).flatMap { p =>
        val want = ExternalCatalogUtils.generatePartitionPath(
          p.spec, meta.partitionColumnNames, tableDir).toUri
        if (p.storage.locationUri.contains(want)) None
        else Some(p.copy(storage = p.storage.copy(locationUri = Some(want))))
      }
      if (drifted.nonEmpty) cat.alterPartitions(ident, drifted)
    }
  }

  /** `ALTER TABLE t DROP COLUMN c` / `REPLACE COLUMNS`: Spark's v1
    * parquet tables can't drop columns in place, but an EXTERNAL table is
    * just schema-over-files (parquet resolves by name) — so the shim
    * re-declares the table at the same location with the narrowed schema,
    * exactly what the reference's catalog update does. Managed tables are
    * rejected (dropping them would delete data). */
  def replaceColumns(spark: SparkSession, table: String, colsDdl: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    require(meta.tableType == org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      s"REPLACE/DROP COLUMNS shim supports external tables only; $table is ${meta.tableType.name}")
    val loc = meta.location.toString
    val partCols = meta.partitionColumnNames
    // Per-field name+catalogString (NOT a string-split of toDDL, which
    // breaks on types containing commas, e.g. DECIMAL(10,2)).
    val partClause =
      if (partCols.isEmpty) ""
      else meta.partitionSchema.fields
        .map(f => s"${f.name} ${f.dataType.catalogString}")
        .mkString(" PARTITIONED BY (", ", ", ")")
    // Validate the replacement schema BEFORE dropping — a malformed
    // colsDdl must not lose the existing table definition.
    StructType.fromDDL(colsDdl)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"CREATE TABLE $table ($colsDdl) USING parquet$partClause LOCATION '$loc'")
    if (partCols.nonEmpty) spark.sql(s"MSCK REPAIR TABLE $table")
  }

  def dropColumn(spark: SparkSession, table: String, column: String): Unit = {
    val remaining = spark.table(table).schema.fields
      .filterNot(_.name.equalsIgnoreCase(column))
    require(remaining.length < spark.table(table).schema.length, s"no such column: $column")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val dataCols = remaining.filterNot(f => meta.partitionColumnNames.contains(f.name))
    replaceColumns(spark, table,
      org.apache.spark.sql.types.StructType(dataCols).toDDL)
  }

  /** `ALTER TABLE t CHANGE c c2 type` (metadata-only column rename /
    * retype, the reference's AlterTableChangeColStmt): re-declares the
    * external table with the renamed column. Same caveat as the
    * reference on parquet: resolution is by NAME, so pre-rename files
    * surface NULL for the renamed column — the rename is a catalog
    * operation, not a data rewrite. */
  def changeColumn(spark: SparkSession, table: String,
      column: String, newColDdl: String): Unit = {
    val fields = spark.table(table).schema.fields
    require(fields.exists(_.name.equalsIgnoreCase(column)), s"no such column: $column")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    // partition columns are part of the directory layout — renaming one
    // must be an error (the reference rejects it too), not a silent no-op
    require(!meta.partitionColumnNames.exists(_.equalsIgnoreCase(column)),
      s"cannot change a partition column: $column")
    val dataCols = fields.filterNot(f => meta.partitionColumnNames.contains(f.name))
    val newDdl = dataCols.map { f =>
      if (f.name.equalsIgnoreCase(column)) newColDdl
      else s"${f.name} ${f.dataType.catalogString}"
    }.mkString(", ")
    replaceColumns(spark, table, newDdl)
  }

  /** `ALTER TABLE t SET TBLPROPERTIES (...)` / `UNSET` passthroughs. */
  def setTableProperties(spark: SparkSession, table: String,
      props: Map[String, String]): Unit = {
    val kv = props.map { case (k, v) =>
      s"'${k.replace("'", "''")}'='${v.replace("'", "''")}'"
    }.mkString(", ")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($kv)")
  }

  def tableProperties(spark: SparkSession, table: String): Map[String, String] = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sessionState.catalog.getTableMetadata(ident).properties
  }

  /** `ALTER TABLE t ADD [IF NOT EXISTS] PARTITION (spec)` passthrough. */
  def addPartition(spark: SparkSession, table: String, spec: String,
      location: Option[String] = None): Unit =
    spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS PARTITION ($spec)" +
      location.map(l => s" LOCATION '$l'").getOrElse(""))

  /** `ALTER TABLE t DROP [IF EXISTS] PARTITION (spec)` passthrough. */
  def dropPartition(spark: SparkSession, table: String, spec: String): Unit =
    spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($spec)")

  // ------------------------------------------------------------------
  // SHOW family (ShowPartitionsStmt/ShowStatsStmt/ShowFilesStmt)
  // ------------------------------------------------------------------

  /** `SHOW PARTITIONS t` passthrough. */
  def showPartitions(spark: SparkSession, table: String): DataFrame =
    spark.sql(s"SHOW PARTITIONS $table")

  /** `SHOW TABLE STATS t` → catalog statistics (rows, bytes) after
    * COMPUTE STATS, like the reference's stats-store view. */
  def showTableStats(spark: SparkSession, table: String): DataFrame =
    spark.sql(s"DESCRIBE TABLE EXTENDED $table")
      .filter("col_name = 'Statistics'")

  /** `SHOW COLUMN STATS t` → per-column stats (ndv, nulls, min/max). */
  def showColumnStats(spark: SparkSession, table: String, column: String): DataFrame =
    spark.sql(s"DESCRIBE TABLE EXTENDED $table $column")

  /** `SHOW FILES IN t` → the files backing the table. */
  def showFiles(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    spark.table(table).inputFiles.toSeq.toDF("path")
  }

  // ------------------------------------------------------------------
  // LOAD DATA (LoadDataStmt.java): move files into the table directory
  // ------------------------------------------------------------------

  /** Split a `k1='v1', k2=2, k3=NULL` partition spec into (key, value)
    * pairs, honoring quotes: commas/equals inside a quoted value don't
    * fragment the spec, surrounding quotes are stripped (doubled quotes
    * unescape), and an unquoted NULL means the null partition. */
  private[graft] def parsePartitionSpec(spec: String): Seq[(String, Option[String])] = {
    val entries = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var quote: Char = 0
    spec.foreach { ch =>
      if (quote != 0) { if (ch == quote) quote = 0; cur += ch }
      else if (ch == '\'' || ch == '"') { quote = ch; cur += ch }
      else if (ch == ',') { entries += cur.toString; cur.clear() }
      else cur += ch
    }
    require(quote == 0, s"unterminated quote in partition spec: $spec")
    if (cur.nonEmpty) entries += cur.toString
    entries.toSeq.map(_.trim).filter(_.nonEmpty).map { e =>
      val eq = e.indexOf('=')
      require(eq > 0, s"malformed partition spec entry (no '='): $e")
      val k = e.substring(0, eq).trim.stripPrefix("`").stripSuffix("`")
      val raw = e.substring(eq + 1).trim
      val v =
        if (raw.equalsIgnoreCase("NULL")) None
        else if (raw.length >= 2 && (raw.head == '\'' || raw.head == '"') && raw.last == raw.head)
          Some(raw.substring(1, raw.length - 1).replace(s"${raw.head}${raw.head}", raw.head.toString))
        else Some(raw)
      (k, v)
    }
  }

  /** `LOAD DATA INPATH 'src' INTO TABLE t [PARTITION (spec)]`: moves the
    * source files under the table (or partition) location and refreshes
    * metadata — file-move semantics like the reference, not a rewrite. */
  def loadData(spark: SparkSession, srcPath: String, table: String,
      partitionSpec: Option[String] = None): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val destBase = new org.apache.hadoop.fs.Path(meta.location)
    val dest = partitionSpec match {
      case Some(spec) =>
        // Partition values are data: a value containing `,`/`=`/`/` must
        // not fragment the spec or the path, and special chars need the
        // same Hive path escaping the writers use (%XX), or LOAD DATA
        // targets a directory INSERT will never read. NULL routes to the
        // engine-wide default-partition sentinel.
        import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        val sub = parsePartitionSpec(spec).map { case (k, v) =>
          val name = v match {
            case None => ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            case Some(value) => ExternalCatalogUtils.escapePathName(value)
          }
          s"${ExternalCatalogUtils.escapePathName(k)}=$name"
        }.mkString("/")
        new org.apache.hadoop.fs.Path(destBase, sub)
      case None => destBase
    }
    val conf = spark.sessionState.newHadoopConf()
    val fs = dest.getFileSystem(conf)
    fs.mkdirs(dest)
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val srcFs = src.getFileSystem(conf)
    val files: Seq[org.apache.hadoop.fs.FileStatus] =
      if (srcFs.getFileStatus(src).isDirectory)
        srcFs.listStatus(src).toSeq.filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      else Seq(srcFs.getFileStatus(src))
    files.foreach { f =>
      val target = new org.apache.hadoop.fs.Path(dest, f.getPath.getName)
      // Hadoop rename returns false (no throw) for cross-filesystem moves
      // or an existing destination — surface that instead of silently
      // "loading" nothing; fall back to copy+delete across filesystems.
      val moved = srcFs.getUri == fs.getUri && fs.rename(f.getPath, target)
      if (!moved) {
        val copied = org.apache.hadoop.fs.FileUtil.copy(
          srcFs, f.getPath, fs, target, /*deleteSource=*/ true, conf)
        require(copied, s"LOAD DATA: failed to move ${f.getPath} to $target")
      }
    }
    partitionSpec.foreach(spec => addPartition(spark, table, spec))
    refresh(spark, table)
  }
}
