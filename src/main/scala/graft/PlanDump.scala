package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round measurement main (guide §1): for each named catalog
  * entry (or the whole catalog), write the `.explain("formatted")` text to
  * an output dir — the before/after plan artifacts the round's deliverables
  * require — and, with `SPARK_GRAFT_PROFILE=1`, execute the entry against
  * the noop sink under a listener that reports job/stage/task counts and
  * per-stage wall time, so "where does the time go" is answered with
  * numbers instead of guesses.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [suffix] [query ...]
  * Writes <outDir>/<name>_<suffix>.txt (suffix defaults to "plan").
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "plan"
    val only = args.drop(3).toSet
    val profile = sys.env.get("SPARK_GRAFT_PROFILE").contains("1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineSession.build(master = s"local[$cpus]")
    Files.createDirectories(Paths.get(outDir))

    // job/stage accounting listener (profile mode)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val stageLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val info = s.stageInfo
        tasks.addAndGet(info.numTasks)
        val ms = (for {
          a <- info.completionTime; b <- info.submissionTime
        } yield a - b).getOrElse(-1L)
        // RDD operation scopes name the SQL operators the stage executes
        // (WholeStageCodegen ids match the *(n) prefixes in explain output)
        // — the callsite alone is always the action's lambda, useless for
        // attribution.
        val scopes = info.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString(" | ")
        stageLines.add(
          f"  stage ${info.stageId}%4d ${info.numTasks}%5d tasks ${ms}%6d ms  $scopes")
      }
    }
    if (profile) spark.sparkContext.addSparkListener(listener)

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          if (profile) {
            // warm pass (codegen + fixtures), then measured pass
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            jobs.set(0); stages.set(0); tasks.set(0); stageLines.clear()
            spark.sparkContext.setJobDescription(name)
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            spark.sparkContext.setJobDescription(null)
            org.apache.spark.EngineAccess.drainListeners(spark.sparkContext)
            println(f"PROFILE $name%-28s $sec%7.3f s  jobs=${jobs.get}%3d stages=${stages.get}%3d tasks=${tasks.get}%5d")
            import scala.jdk.CollectionConverters._
            stageLines.asScala.toSeq.sorted.foreach(println)
          } else {
            println(s"PLAN $name -> $outDir/${name}_$suffix.txt")
          }
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
