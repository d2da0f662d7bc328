package graft

import org.apache.spark.sql.functions._

/** `Tables.parallelized`'s gate input — the r9 soak regression, pinned.
  *
  * The failure class (VERDICT_r09 "What's wrong" #2): a single-row-group
  * parquet file yields ONE input split, and the old gate read
  * `optimizedPlan.stats.sizeInBytes` — a CBO ESTIMATE that column
  * pruning scales down by the projected-row-width ratio. Project a
  * narrow column out of a wide file and the estimate lands under the
  * 4 MB threshold while the file (and the per-row work fused onto its
  * scan) is far larger: the floor declined to repartition and a heavy
  * fused stage ran on one core (the q8 index build at sf1 — inverted
  * scaling, caught by the scale curve). The new gate reads the
  * FileIndex's on-disk bytes: facts, not estimates.
  */
class ParallelizedGateSpec extends SparkSpec {

  test("estimate-shrunk wide file still trips the parallelism floor (r9 q8-at-sf1 class)") {
    val dir = java.nio.file.Files.createTempDirectory("par_gate").toString
    // one file, one row group, >= 4 MB on disk (hex payload compresses
    // ~2x, hence the row count)
    spark.range(90000)
      .select(col("id"),
        concat_ws("", (0 until 20).map(_ => md5(col("id").cast("string"))): _*).as("payload"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)

    // reproduce the single-split shape: with a large open cost (the
    // at-scale config where one split ~ one big row group) the whole
    // file is one planned split, exactly the one-row-group trap
    val prevOpenCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", (32L * 1024 * 1024).toString)
    try {
      // narrow projection: the scan prunes to `id`, so the CBO estimate
      // is width-scaled far below the real file size
      val df = spark.read.parquet(dir).select(col("id"))
      val estimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val real = Tables.leafBytes(df)
      val gate = BigInt(4L * 1024 * 1024)
      assert(real >= gate, s"setup: file should exceed the 4 MB gate, got $real")
      assert(estimate < gate,
        s"setup: the pruned estimate should sit under the gate (the r9 trap), got $estimate")
      assert(df.rdd.getNumPartitions * 2 <
        spark.sparkContext.defaultParallelism, "setup: single-split scan")

      // old gate (estimate-based) would skip; the new gate must repartition
      val out = Tables.parallelized(df)
      assert(out.rdd.getNumPartitions === spark.sparkContext.defaultParallelism,
        "the floor must distribute a single-split multi-MB scan regardless of the estimate")

      // and a genuinely tiny relation still passes through exchange-free
      val tinyDir = java.nio.file.Files.createTempDirectory("par_tiny").toString
      spark.range(100).coalesce(1).write.mode("overwrite").parquet(tinyDir)
      val tiny = spark.read.parquet(tinyDir)
      assert(Tables.parallelized(tiny).rdd.getNumPartitions === tiny.rdd.getNumPartitions)
    } finally spark.conf.set("spark.sql.files.openCostInBytes", prevOpenCost)
  }

  /** The r10 soak regression, pinned — now against the r11 footer-based
    * gate: planned byte-range splits OVERSTATE a parquet scan's working
    * parallelism (rows materialize only in the split holding each row
    * group's midpoint, and pushed-down filters prune row groups by footer
    * stats), so a scan whose planned splits cleared a planned-count bar
    * could still execute its heavy fused stage on one core (q_text_stats
    * alpha 1.59, q_dedup_components 18.9s→83.5s on an identically-sized
    * bounded slice — both at sf10d, both on a 72 MB file planning 18
    * splits). The gate now reads WORKING splits = min(planned, footer row
    * groups): exact for unfiltered scans, 2x-abundance margin when a
    * Filter may additionally prune groups. */
  test("phantom splits over one row group trip the floor at ANY planned count (r10 class)") {
    val dir = java.nio.file.Files.createTempDirectory("par_band").toString
    spark.range(90000)
      .select(col("id"),
        concat_ws("", (0 until 20).map(_ => md5(col("id").cast("string"))): _*).as("payload"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val cores = spark.sparkContext.defaultParallelism
    val bytes = Tables.leafBytes(spark.read.parquet(dir)).toLong
    assert(bytes >= 4L * 1024 * 1024, s"setup: file should exceed the 4 MB gate, got $bytes")
    assert(Tables.sourceRowGroups(spark.read.parquet(dir)).contains(1L),
      "setup: coalesce(1) should have written a single row group")
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      // ambiguous band: planned ~cores splits, ONE working row group
      spark.conf.set("spark.sql.files.maxPartitionBytes", (bytes / cores + 1).toString)
      val banded = spark.read.parquet(dir).select(col("id"))
      val planned = banded.rdd.getNumPartitions
      assert(planned * 2 >= cores && planned < cores * 2,
        s"setup: planned splits should land in the ambiguous band, got $planned on $cores cores")
      assert(Tables.parallelized(banded).rdd.getNumPartitions === math.max(cores, planned),
        "an ambiguous-band scan over one row group must be floored to cores " +
          "WITHOUT narrowing a scan that already plans more than cores")

      // phantom abundance — the shape the r10 planned-count gate MISSED:
      // 2x-cores planned splits still carry ONE working row group, so the
      // heavy fused stage would run on one core without the floor
      spark.conf.set("spark.sql.files.maxPartitionBytes", (bytes / (3 * cores) + 1).toString)
      val phantom = spark.read.parquet(dir).select(col("id"))
      val plannedA = phantom.rdd.getNumPartitions
      assert(plannedA >= cores * 2,
        s"setup: expected abundant planned splits, got $plannedA on $cores cores")
      assert(Tables.parallelized(phantom).rdd.getNumPartitions === math.max(cores, plannedA),
        "abundant PLANNED splits over a single row group are phantom — the floor must fire")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
    }
  }

  /** The r11 change the VERDICT asked for: a many-row-group file whose
    * planned splits land in the cores..2x band is GENUINELY parallel —
    * the old abundance heuristic taxed it with a pointless exchange; the
    * footer gate must let it through. A Filter on the same scan restores
    * the margin (row-group pruning is invisible to footer counts). */
  test("many-row-group file in the ambiguous band passes exchange-free; a Filter restores the margin") {
    val dir = java.nio.file.Files.createTempDirectory("par_rg").toString
    // small parquet block size → many row groups in one file
    spark.range(90000)
      .select(col("id"),
        concat_ws("", (0 until 20).map(_ => md5(col("id").cast("string"))): _*).as("payload"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (128 * 1024).toString)
      .parquet(dir)
    val cores = spark.sparkContext.defaultParallelism
    val plain = spark.read.parquet(dir)
    val bytes = Tables.leafBytes(plain).toLong
    val rgs = Tables.sourceRowGroups(plain).get
    assert(bytes >= 4L * 1024 * 1024, s"setup: file should exceed the 4 MB gate, got $bytes")
    assert(rgs >= cores * 2,
      s"setup: expected >= ${cores * 2} row groups from the small block size, got $rgs")
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      // planned splits in [cores, 2*cores): the r10 gate exchanged here
      // unconditionally; with rgs >= planned every split is working
      spark.conf.set("spark.sql.files.maxPartitionBytes",
        (bytes / (cores + cores / 2) + 1).toString)
      val banded = spark.read.parquet(dir).select(col("id"))
      val planned = banded.rdd.getNumPartitions
      assert(planned >= cores && planned < cores * 2,
        s"setup: planned splits should land in [cores, 2*cores), got $planned on $cores cores")
      assert(Tables.parallelized(banded).rdd.getNumPartitions === planned,
        "an unfiltered scan with working splits >= cores must pass through exchange-free")

      // same scan with a filter: footer counts can't see row-group
      // pruning, so the band demands 2x abundance again → exchange
      val filtered = spark.read.parquet(dir).filter(col("id") < 45000).select(col("id"))
      val plannedF = filtered.rdd.getNumPartitions
      if (plannedF < cores * 2) {
        assert(Tables.parallelized(filtered).rdd.getNumPartitions ===
          math.max(cores, plannedF),
          "a filtered scan in the band must keep the abundance margin " +
            "(pruning may cut working groups below the footer count)")
      }
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
    }
  }

  /** The floor spreads only when the source reaches the gate AND its
    * working splits fall short of the cores, so it compares the bytes with
    * the gate first. Below the gate it returns the very DataFrame it was
    * given, whatever the split count; between the two gates only the heavy
    * floor spreads. */
  test("an under-gate source comes back as the same DataFrame from either floor") {
    val dir = java.nio.file.Files.createTempDirectory("par_under").toString
    // one file, one row group, between the 256 KB and the 4 MB gate
    spark.range(20000)
      .select(col("id"), concat(md5(col("id").cast("string")),
        sha1(col("id").cast("string"))).as("payload"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val mid = spark.read.parquet(dir)
    val bytes = Tables.leafBytes(mid)
    assert(bytes >= 256 * 1024 && bytes < 4L * 1024 * 1024,
      s"setup: file should sit between the two gates, got $bytes")
    val cores = spark.sparkContext.defaultParallelism
    assert(mid.rdd.getNumPartitions < cores, "setup: fewer splits than cores")
    assert(Tables.parallelized(mid) eq mid)
    assert(Tables.parallelizedHeavy(mid).rdd.getNumPartitions === cores,
      "the heavy gate sits below this file, so its floor spreads it")

    val tinyDir = java.nio.file.Files.createTempDirectory("par_under_tiny").toString
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(tinyDir)
    val tiny = spark.read.parquet(tinyDir)
    assert(Tables.parallelized(tiny) eq tiny)
    assert(Tables.parallelizedHeavy(tiny) eq tiny)
  }
}
