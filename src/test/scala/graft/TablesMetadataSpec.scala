package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** `Tables`' per-session table-metadata cache: a table's schema is inferred
  * once per session and reused while the files behind its path and the
  * session's inference confs are unchanged; parquet row-group counts live in
  * the same cache under the same file stamps. Also pins the floors' planned
  * split count, read from the Dataset's own plan, to `df.rdd`'s count. */
class TablesMetadataSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.1"

  /** Runs `body` and counts the Spark jobs it started. A marker job run
    * afterwards flushes the asynchronous, in-order listener bus: once the
    * listener sees the marker, every job of `body` has been counted. */
  private def jobsDuring[T](session: SparkSession)(body: => T): (T, Int) = {
    val sc = session.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.marker") != null))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(marker.await(60, TimeUnit.SECONDS), "the listener never saw the marker job")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a second load runs no Spark job and returns the same schema") {
    val session = spark.newSession()
    val (first, firstJobs) = jobsDuring(session)(Tables.load(session, sf001, "lineitem"))
    assert(firstJobs >= 1, "setup: the first load should infer the schema with a job")
    val (second, secondJobs) = jobsDuring(session)(Tables.load(session, sf001, "lineitem"))
    assert(secondJobs === 0, "a repeated load re-inferred the schema")
    assert(second.schema === first.schema)
    assert(second.count() === first.count())
    // each load is its own relation: fresh expression ids, so a self-join resolves
    val ids = first.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(second.queryExecution.analyzed.output.forall(a => !ids(a.exprId)))

    // events goes through normalizeEvents on the cached schema as well
    Tables.load(session, sf001, "events")
    val (events, eventJobs) = jobsDuring(session)(Tables.load(session, sf001, "events"))
    assert(eventJobs === 0)
    assert(events.schema("ts").dataType.typeName === "timestamp_ntz")

    // an inference conf is part of the key: changing it infers again
    session.conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "true")
    val (_, afterConf) = jobsDuring(session)(Tables.load(session, sf001, "lineitem"))
    assert(afterConf >= 1, "a changed inference conf must not reuse the cached schema")
  }

  test("a table file rewritten in place is read fresh, with its new row-group count") {
    val dir = Files.createTempDirectory("tables_meta").toString
    val target = Paths.get(dir, "t.parquet")
    // write one parquet file through Spark, then move it over `target`
    def writeTable(df: DataFrame, blockBytes: Long): Unit = {
      val out = Files.createTempDirectory("tables_meta_out")
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", blockBytes.toString).parquet(out.toString)
      val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    }
    val session = spark.newSession()

    writeTable(spark.range(1000).toDF("id"), 128L * 1024 * 1024)
    val before = Tables.load(session, dir, "t")
    assert(before.columns.toSeq === Seq("id"))
    assert(before.count() === 1000)
    assert(Tables.sourceRowGroups(before).contains(1L))

    // same path; an extra column, other rows, many row groups
    writeTable(spark.range(40000).select(col("id"), md5(col("id").cast("string")).as("h")),
      64L * 1024)
    val after = Tables.load(session, dir, "t")
    assert(after.columns.toSeq === Seq("id", "h"))
    assert(after.count() === 40000)
    assert(after.filter(col("h") === md5(lit("39999"))).count() === 1)
    val rowGroups = Tables.sourceRowGroups(after)
    assert(rowGroups.exists(_ > 1), s"stale row-group count after the rewrite: $rowGroups")
    assert(rowGroups === Tables.sourceRowGroups(spark.read.parquet(target.toString)))
  }

  test("the floors' planned split count is the one df.rdd reports, for every plan shape") {
    val lineitem = Tables.load(spark, sf01, "lineitem")
    val cached = lineitem.groupBy(col("l_returnflag")).count().persist()
    try {
      cached.count()
      val shapes = Seq(
        "scan" -> lineitem,
        "filtered projection" -> lineitem.filter(col("l_quantity") > 10).select(col("l_orderkey")),
        "cached relation" -> cached,
        "non-scan leaf (fallback)" -> spark.range(0, 1000, 1, 3).toDF("id"),
        "union (fallback)" -> lineitem.select(col("l_orderkey")).union(
          Tables.load(spark, sf01, "orders").select(col("o_orderkey"))))
      for ((shape, df) <- shapes)
        assert(Tables.plannedSplits(df) === df.rdd.getNumPartitions, shape)
    } finally cached.unpersist()
  }
}
