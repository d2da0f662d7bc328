package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.Similarity
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** `Tables`' per-session table-metadata cache: a table's schema is inferred
  * once per session and reused while the files behind its path and the
  * session's inference confs are unchanged; parquet row-group counts live in
  * the same cache under the same file stamps, and so are collected corpus
  * statistics (the LSH dim-means), under their plan as well, and so are the
  * stamps of persisted pipeline boundaries. Also pins the
  * floors' planned split count, read from the Dataset's own plan, to
  * `df.rdd`'s count. */
class TablesMetadataSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.1"

  /** Runs `body` and counts the Spark jobs it started and the RDD blocks
    * (persisted partitions) it stored. A marker job run afterwards flushes
    * the asynchronous, in-order listener bus: once the listener sees the
    * marker, every job and block of `body` has been counted. */
  private def observe[T](session: SparkSession)(body: => T): (T, Int, Int) = {
    val sc = session.sparkContext
    val jobs = new AtomicInteger
    val rddBlocks = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.marker") != null))
          marker.countDown()
        else jobs.incrementAndGet()
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isRDD) rddBlocks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(marker.await(60, TimeUnit.SECONDS), "the listener never saw the marker job")
      (out, jobs.get, rddBlocks.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` and counts the Spark jobs it started. */
  private def jobsDuring[T](session: SparkSession)(body: => T): (T, Int) = {
    val (out, jobs, _) = observe(session)(body)
    (out, jobs)
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

  /** Writes `df` as one parquet file through Spark and moves it over
    * `target`: an in-place rewrite of that path. */
  private def writeTable(target: java.nio.file.Path, df: DataFrame,
      blockBytes: Long = 128L * 1024 * 1024): Unit = {
    val out = Files.createTempDirectory("tables_meta_out")
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", blockBytes.toString).parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a table file rewritten in place is read fresh, with its new row-group count") {
    val dir = Files.createTempDirectory("tables_meta").toString
    val target = Paths.get(dir, "t.parquet")
    val session = spark.newSession()

    writeTable(target, spark.range(1000).toDF("id"))
    val before = Tables.load(session, dir, "t")
    assert(before.columns.toSeq === Seq("id"))
    assert(before.count() === 1000)
    assert(Tables.sourceRowGroups(before).contains(1L))

    // same path; an extra column, other rows, many row groups
    writeTable(target, spark.range(40000).select(col("id"), md5(col("id").cast("string")).as("h")),
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

  test("registerAll loads concurrently but fails loudly on the first missing table, in order") {
    val dir = Files.createTempDirectory("tables_meta_views")
    // every table but nation and orders: both loads fail, nation's is reported
    for (n <- Tables.all if n != "nation" && n != "orders")
      writeTable(dir.resolve(s"$n.parquet"), spark.range(3).toDF(if (n == "events") "ts" else "id"))
    val session = spark.newSession()
    val e = intercept[Exception](Tables.registerAll(session, dir.toString))
    assert(e.getMessage.contains("nation.parquet"), e.getMessage)
    assert(!session.catalog.tableExists("region"), "a failed registerAll left views behind")

    writeTable(dir.resolve("nation.parquet"), spark.range(3).toDF("id"))
    writeTable(dir.resolve("orders.parquet"), spark.range(5).toDF("id"))
    Tables.registerAll(session, dir.toString)
    assert(session.sql("SELECT count(*) FROM orders").collect()(0).getLong(0) === 5)
  }

  /** lshTopK's top-3 over `corpus` for the queries vec_id < 10. */
  private def lsh(queries: DataFrame, corpus: DataFrame): DataFrame =
    Similarity.lshTopK(queries, corpus, "vec_id", "embedding", 3)

  test("a second lshTopK over the same corpus runs no job; another filter gets its own entry") {
    val session = EngineSession.adopt(spark.newSession())
    def emb = Tables.load(session, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val (first, firstJobs) = jobsDuring(session)(lsh(queries, emb.filter(col("vec_id") >= 10)))
    assert(firstJobs >= 1, "setup: the first call should collect the dim-means")
    // a fresh load of the same table, as every catalog entry makes one
    val (second, secondJobs) = jobsDuring(session)(lsh(queries, emb.filter(col("vec_id") >= 10)))
    assert(secondJobs === 0, "a repeated lshTopK over the same corpus collected its dim-means again")
    assert(second.collect().toSeq === first.collect().toSeq)

    val (_, otherJobs) = jobsDuring(session)(lsh(queries, emb.filter(col("vec_id") >= 20)))
    assert(otherJobs >= 1, "a different corpus filter reused another corpus' dim-means")
    val (_, againJobs) = jobsDuring(session)(lsh(queries, emb.filter(col("vec_id") >= 20)))
    assert(againJobs === 0)
    val (_, firstAgainJobs) = jobsDuring(session)(lsh(queries, emb.filter(col("vec_id") >= 10)))
    assert(firstAgainJobs === 0, "the other filter's entry displaced the first one")

    // the kept means are the ones a plain aggregate computes
    val corpus = emb.filter(col("vec_id") >= 10)
    val direct = corpus.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(avg(col("x").cast("double")).as("m"))
      .orderBy(col("i")).collect().map(_.getDouble(1)).toSeq
    assert(Similarity.dimMeans(corpus, "embedding").toSeq === direct)
  }

  test("an embeddings file rewritten in place with other vectors re-derives the dim-means") {
    val dir = Files.createTempDirectory("tables_meta_emb").toString
    val target = Paths.get(dir, "embeddings.parquet")
    // 64-dim vectors around a shared offset; the rewrite shifts every
    // vector, so the old means would mis-center the new hyperplanes
    def vectors(rows: Long, offset: Double): DataFrame =
      spark.range(rows).select(col("id").as("vec_id"), array((0 until 64).map { d =>
        (sin(col("id") * (d + 1) + d) + offset).cast("float")
      }: _*).as("embedding"))
    val session = EngineSession.adopt(spark.newSession())
    def emb = Tables.load(session, dir, "embeddings")
    def corpus = emb.filter(col("vec_id") >= 10)

    writeTable(target, vectors(300, 1.0))
    lsh(emb.filter(col("vec_id") < 10), corpus)
    val before = Similarity.dimMeans(corpus, "embedding")

    writeTable(target, vectors(400, -2.0))
    val (after, jobs) = jobsDuring(session)(lsh(emb.filter(col("vec_id") < 10), corpus))
    assert(jobs >= 1, "the rewritten file reused the old dim-means")
    val means = Similarity.dimMeans(corpus, "embedding")
    assert(means.toSeq != before.toSeq)
    // the same result as a session that never saw the old file
    val fresh = EngineSession.adopt(spark.newSession())
    val freshEmb = Tables.load(fresh, dir, "embeddings")
    assert(after.collect().toSeq ===
      lsh(freshEmb.filter(col("vec_id") < 10), freshEmb.filter(col("vec_id") >= 10)).collect().toSeq)
    // and the stale means would have put the new vectors in other buckets
    def buckets(m: Array[Double]): Seq[Long] = corpus.orderBy(col("vec_id"))
      .select(Similarity.lshBucket(col("embedding"), 6, 64, 0,
        Similarity.planeThresholds(m, 6, 64, 0))).collect().map(_.getLong(0)).toSeq
    assert(buckets(means) != buckets(before))
  }

  test("persisted pipeline boundaries follow a documents file rewritten in place, in every session") {
    val base = Files.createTempDirectory("tables_meta_docs")
    val live = Files.createDirectories(base.resolve("live"))
    val target = live.resolve("documents.parquet")
    Files.copy(Paths.get(sf001, "documents.parquet"), target)
    // both entries persist a stage boundary through Tables.persistOnce
    def run(session: SparkSession, dir: java.nio.file.Path): Seq[Seq[Row]] =
      Seq("q_pipeline_e2e", "q_split_leakage_safe")
        .map(n => SparkEntry.queries(n)(session, dir.toString).collect().toSeq)
    val session = EngineSession.adopt(spark.newSession())
    val (before, _, firstBlocks) = observe(session)(run(session, live))
    assert(firstBlocks > 0, "setup: the first calls should persist their boundaries")
    // unchanged files: the second calls read the persisted boundaries
    val (again, _, againBlocks) = observe(session)(run(session, live))
    assert(againBlocks === 0, "a repeated call with unchanged files materialized its boundary again")
    assert(again === before)

    // half the rows, written over the same path
    writeTable(target, spark.read.parquet(target.toString).filter(col("doc_id") % 2 === 0))
    // the same entries over a copy of the rewritten file at a path never cached
    val fresh = Files.createDirectories(base.resolve("fresh"))
    Files.copy(target, fresh.resolve("documents.parquet"))
    val expected = run(EngineSession.adopt(spark.newSession()), fresh)
    assert(expected.zip(before).forall { case (e, b) => e != b },
      "setup: the rewrite should change both results")

    assert(run(session, live) === expected, "the same session served the boundary of the old file")
    assert(run(EngineSession.adopt(spark.newSession()), live) === expected,
      "a new session served the boundary of the old file")
  }
}
