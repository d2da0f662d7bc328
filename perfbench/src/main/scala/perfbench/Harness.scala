package perfbench

import java.io.{File, FileInputStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Caching, EngineSession, SparkEntry, Tables}
import graft.sinks.TableSink
import graft.sources.Formats

/** One benchmark run in one JVM: set up, warm up, then
  * drive the op sequence in a closed loop with one client for the timed
  * window, collecting every result to the client. Writes `run.json` (and
  * `trace.json` when traced) into the working directory; the Python side
  * checks the results and derives the metrics.
  *
  *   Harness oracle-sql <out.json>   dump SparkEntry.oracleSql
  *   Harness run <conf.properties>   run one workload
  */
object Harness {
  def main(args: Array[String]): Unit = args.toList match {
    case List("oracle-sql", out) =>
      Files.writeString(Paths.get(out), Json(SparkEntry.oracleSql))
    case List("run", conf) =>
      val p = new java.util.Properties()
      val in = new FileInputStream(conf)
      try p.load(in) finally in.close()
      new Run(p.asScala.toMap).execute()
    case _ =>
      System.err.println("usage: Harness oracle-sql <out> | run <conf>")
      sys.exit(2)
  }
}

/** An op as the seeded generator wrote it: `q <entry>`, `write <batch>`,
  * `scan <batch,batch,...>` or `cached`. */
final case class Op(kind: String, arg: String)

final class Run(conf: Map[String, String]) {
  private val workload = conf("workload")
  private val seconds = conf("seconds").toDouble
  private val cores = conf("cores").toInt
  private val dataDir = conf("data")
  private val traced = conf("trace") == "1"
  private val batchDir = conf.getOrElse("batches", "")
  private val slots = conf.getOrElse("slots", "0").toInt

  private def ops(key: String): Vector[Op] =
    Files.readAllLines(Paths.get(conf(key))).asScala.map(_.trim).filter(_.nonEmpty)
      .map { l => val i = l.indexOf(' '); if (i < 0) Op(l, "") else Op(l.take(i), l.drop(i + 1)) }
      .toVector

  private val trace = if (traced) Some(new Trace(cores)) else None
  private val records = mutable.ArrayBuffer[String]()
  private type Result = Option[(StructType, Array[Row])]
  private val firstResult = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
  private var nextOp = 0

  // ingest state: the table keeps one batch per slot, batch b in slot
  // b % slots, so every write replaces the oldest batch and the table
  // (and the cached query over it) stays the same size
  private val table = new File("ingest/events").getAbsolutePath
  private var tableDf: DataFrame = _
  private val inSlot = mutable.Map[Int, Int]()

  private def span[T](op: Int, name: String)(body: => T): T =
    trace.fold(body)(_.span(op, name)(body))

  def execute(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val warm = ops("warm_ops")
    val timed = ops("timed_ops")
    // set-up as a user pays it: from process start (JVM boot and class
    // loading) through session build, view registration and, for
    // ingest_scan, the table's preload and first cache prepare
    val startLag = (System.currentTimeMillis() - jvmStart) / 1e3
    val ts0 = System.nanoTime()
    val spark = EngineSession.build(master = s"local[$cores]", appName = "perfbench")
    trace.foreach(t => spark.sparkContext.addSparkListener(t.listener))
    val tSession = System.nanoTime()
    Tables.ensureViews(spark, dataDir)
    val tViews = System.nanoTime()
    if (workload == "ingest_scan") preload(spark)
    val ts1 = System.nanoTime()
    val setup = Map(
      "setup_s" -> (startLag + (ts1 - ts0) / 1e9),
      "jvm_start_s" -> startLag,
      "session_s" -> (tSession - ts0) / 1e9,
      "register_ms" -> (tViews - tSession) / 1e6,
      "prepare_s" -> (ts1 - tViews) / 1e9)
    // warm-up at the timed scale, once, on the session the timed window uses
    val tw = System.nanoTime()
    warm.foreach(op => runOp(spark, op, "warm"))
    val warmS = (System.nanoTime() - tw) / 1e9
    val gc0 = gcMs
    val cg0 = codegenCompiles
    val jit0 = jitMs
    trace.foreach(_.start())
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      runOp(spark, timed(i % timed.size), "timed")
      i += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val timedGc = gcMs - gc0
    val timedCompiles = codegenCompiles - cg0
    val timedJit = jitMs - jit0
    trace.foreach { t =>
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      t.stop()
    }
    dumpResults(spark)
    val jvm = Map(
      "heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "gc_ms" -> gcMs.toDouble,
      "timed_gc_ms" -> timedGc.toDouble,
      "timed_codegen_compiles" -> timedCompiles,
      "timed_jit_ms" -> timedJit,
      "vm_hwm_mb" -> vmHwmMb,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "cores" -> cores,
      "spark" -> spark.version)
    val out = s"""{"workload":${Json(workload)},"timed_s":$timedS,"warm_s":$warmS,"warm_ops":${warm.size},"setup":${Json(setup)},"jvm":${Json(jvm)},"ops":${records.mkString("[", ",\n", "]")}}"""
    Files.writeString(Paths.get("run.json"), out)
    trace.foreach(t => Files.writeString(Paths.get("trace.json"), t.toJson))
    spark.stop()
  }

  /** Whole-stage and expression classes Janino compiled so far (a miss
    * in Spark's generated-code cache). */
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The machine's cumulative (steal, all states) CPU time in jiffies from
    * /proc/stat; (0, 0) where there is none. Steal is time the host gave
    * this machine's CPUs to other guests. */
  private def hostCpu: (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .slice(1, 9).map(_.toLong)
    (f(7), f.sum)
  } catch { case _: Exception => (0L, 0L) }

  /** HotSpot JIT compile time so far, summed over compiler threads. */
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def vmHwmMb: Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  } catch { case _: Exception => 0.0 }

  /** Run one op, timing it end to end and recording its result hash. */
  private def runOp(spark: SparkSession, op: Op, phase: String): Unit = {
    val id = nextOp
    nextOp += 1
    spark.sparkContext.setLocalProperty(Trace.OpKey, id.toString)
    trace.foreach(_.begin(id))
    val tMs = trace.map(_.nowMs)
    val cg0 = codegenCompiles
    val (steal0, cpu0) = hostCpu
    val t0 = System.nanoTime()
    val (ok, err, rows, extra) = try {
      val (res, x) = op.kind match {
        case "q" => (catalogQuery(spark, id, op.arg), Map.empty[String, Any])
        case "write" => write(spark, id, op.arg.toInt)
        case "scan" => (scan(spark, id, op.arg), Map("batches" -> op.arg.split(',').map(_.toInt).toSeq))
        case "cached" => (cachedQuery(id), Map("batches" -> inSlot.values.toSeq.sorted))
      }
      (true, "", res, x)
    } catch {
      case e: Throwable =>
        (false, Option(e.getMessage).getOrElse(e.getClass.getName).take(300), None,
          Map.empty[String, Any])
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val (steal1, cpu1) = hostCpu
    val compiles = codegenCompiles - cg0
    trace.foreach { t => t.record(id, "op", tMs.get, t.nowMs); t.end() }
    spark.sparkContext.setLocalProperty(Trace.OpKey, null)
    val (hash, nRows, cells) = rows match {
      case Some((schema, data)) =>
        if (op.kind == "q" && !firstResult.contains(op.arg)) firstResult(op.arg) = (schema, data)
        val cellsOut = if (op.kind == "q") None else Some(data.map(_.toSeq.map(cell)).toSeq)
        (fingerprint(schema, data), data.length, cellsOut)
      case None => ("", 0, None)
    }
    records += Json(Map(
      "id" -> id, "phase" -> phase, "kind" -> op.kind, "arg" -> op.arg,
      "wall_ms" -> wallMs, "compiles" -> compiles, "steal_jiffies" -> (steal1 - steal0),
      "cpu_jiffies" -> (cpu1 - cpu0), "ok" -> ok, "error" -> err,
      "hash" -> hash, "rows" -> nRows, "result" -> cells) ++ extra)
  }

  private def cell(v: Any): Any = v match {
    case null => null
    case n: java.lang.Number => n
    case other => other.toString
  }

  private def collect(id: Int, df: DataFrame): Result = {
    if (traced) {
      span(id, "plan.optimize")(df.queryExecution.optimizedPlan)
      span(id, "plan.physical")(df.queryExecution.executedPlan)
    }
    val rows = span(id, "exec.collect")(df.collect())
    Some((df.schema, rows))
  }

  private def catalogQuery(spark: SparkSession, id: Int, name: String): Result = {
    val df = span(id, "queries.build")(SparkEntry.queries(name)(spark, dataDir))
    collect(id, df)
  }

  /** The ingest checks' aggregate: exact integer totals per event type. */
  private def totals(df: DataFrame): DataFrame =
    df.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("user.shard")).as("shard_sum"),
      sum(col("props.k")).as("k_sum"),
      sum(round(col("value") * 100).cast("long")).as("cents"),
      max(col("ts_us")).as("max_ts"))
      .orderBy(col("event_type"))

  private def batchPath(b: Int): String = f"$batchDir/batch-$b%04d.json"

  private def preload(spark: SparkSession): Unit = {
    conf("preload").split(',').filter(_.nonEmpty).foreach(b => ingest(spark, -1, b.toInt))
    refreshCache(spark, -1)
  }

  /** Write batch `b` into its slot: dynamic partition overwrite (INSERT
    * OVERWRITE ... PARTITION (slot, event_type)) replaces exactly the
    * batch that held the slot before. */
  private def ingest(spark: SparkSession, id: Int, b: Int): Long = {
    val src = span(id, "sources.readJson")(
      Formats.readJson(spark, batchPath(b), Formats.eventsJsonSchema))
    span(id, "sinks.insert")(TableSink.insertOverwriteDynamic(
      src.withColumn("slot", lit(b % slots)), table, Seq("slot", "event_type")))
    inSlot(b % slots) = b
    new File(batchPath(b)).length()
  }

  private def refreshCache(spark: SparkSession, id: Int): Unit = span(id, "cache.prepare") {
    if (tableDf != null) Caching.release(tableDf)
    tableDf = TableSink.read(spark, table)
    Await.result(Caching.prepare(tableDf)(scala.concurrent.ExecutionContext.global), Duration.Inf)
  }

  /** Ingest one NDJSON batch into the partitioned table, then re-prepare
    * the table's cache so the next cached query reads the new data. */
  private def write(spark: SparkSession, id: Int, b: Int): (Result, Map[String, Any]) = {
    val inBytes = ingest(spark, id, b)
    refreshCache(spark, id)
    val x = Map[String, Any]("batch" -> b, "input_bytes" -> inBytes) ++
      (if (traced) {
        val files = listFiles(new File(table))
        val (mem, disk) = Caching.stats(tableDf)
        Map("table_bytes" -> files.map(_.length).sum, "table_files" -> files.size,
          "files_written" -> listFiles(new File(table, s"slot=${b % slots}")).size,
          "cache_resident" -> Caching.progress(tableDf), "cache_mem_bytes" -> mem,
          "cache_disk_bytes" -> disk)
      } else Map.empty)
    (None, x)
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Nil

  /** The aggregate straight over NDJSON files: no cache of any kind. */
  private def scan(spark: SparkSession, id: Int, batches: String): Result = {
    val glob = batches.split(',').map(b => f"${b.toInt}%04d").mkString(s"$batchDir/batch-{", ",", "}.json")
    val df = span(id, "sources.readJson")(Formats.readJson(spark, glob, Formats.eventsJsonSchema))
    collect(id, totals(df))
  }

  private def cachedQuery(id: Int): Result = collect(id, totals(tableDf))

  /** Type-tagged, order-sensitive hash of a collected result, used to check
    * that every execution of an entry returns what its first one did. */
  private def fingerprint(schema: StructType, rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.fields.map(f => f.name + ":" + f.dataType.simpleString).mkString(",").getBytes)
    rows.foreach { r => md.update(r.toString.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Write the first result of each catalog entry as parquet, for the
    * oracle comparison (outside every timed region). */
  private def dumpResults(spark: SparkSession): Unit = firstResult.foreach {
    case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"results/$name")
  }
}
