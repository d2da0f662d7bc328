package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans and counters recorded around the calls into each layer, kept in
  * memory and written out once at exit. Only the traced run creates one.
  *
  * Clock: every span is in milliseconds on one monotonic clock anchored to
  * the wall clock at construction, so spans line up with the scheduler's
  * job events (which carry wall-clock milliseconds).
  */
final class Trace(cores: Int) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  final case class Span(op: Int, name: String, start: Double, end: Double)
  private val spans = mutable.ArrayBuffer[Span]()
  @volatile private var current = -1

  /** Mark `op` as the op in flight (one client, so at most one). */
  def begin(op: Int): Unit = current = op
  def end(): Unit = current = -1

  def span[T](op: Int, name: String)(body: => T): T = {
    val t0 = nowMs
    try body finally spans.synchronized(spans += Span(op, name, t0, nowMs))
  }

  def record(op: Int, name: String, start: Double, end: Double): Unit =
    spans.synchronized(spans += Span(op, name, start, end))

  /** Per-op counters from the listener, keyed by counter name. */
  private val counters = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()
  private def add(op: Int, key: String, v: Double): Unit = if (op >= 0) {
    val m = counters.computeIfAbsent(op, _ => mutable.Map[String, Double]())
    m.synchronized(m(key) = m.getOrElse(key, 0.0) + v)
  }

  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobOp = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Double]()

  /** Tags each job with the op in flight (the op-id local property when
    * the job came from the client thread, else the op whose window it
    * started in), and sums task metrics per op. */
  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpKey)))
      val op = tagged.map(_.toInt).getOrElse(current)
      jobOp.put(e.jobId, op)
      jobStart.put(e.jobId, e.time.toDouble)
      e.stageIds.foreach(s => stageOp.put(s, op))
      add(op, "jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val op = jobOp.getOrDefault(e.jobId, -1)
      if (op >= 0) record(op, "exec.job", jobStart.get(e.jobId), e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageOp.getOrDefault(e.stageInfo.stageId, -1), "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(e.stageId, -1)
      val info = e.taskInfo
      add(op, "tasks", 1)
      if (info.failed || info.killed) add(op, "failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(op, "task_run_ms", m.executorRunTime.toDouble)
        add(op, "task_cpu_ms", m.executorCpuTime / 1e6)
        add(op, "gc_ms", m.jvmGCTime.toDouble)
        add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(op, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(op, "input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(op, "input_records", m.inputMetrics.recordsRead.toDouble)
        add(op, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
        // the scheduler-delay formula of Spark's own stage page
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) 0L
                                       else info.gettingResultTime)
        add(op, "sched_delay_ms", math.max(0L, delay).toDouble)
      }
    }
  }

  /** Samples the executor task threads every `intervalMs`; a busy sample
    * counts for `operators` when the innermost engine frame on the stack
    * is in graft.operators or graft.functions, else for Spark's runtime. */
  private val sampler = new Thread("perfbench-sampler") {
    setDaemon(true)
    override def run(): Unit = {
      val mx = ManagementFactory.getThreadMXBean
      var ids = Array.empty[Long]
      var refreshed = 0L
      while (!isInterrupted) {
        try {
          if (System.nanoTime() - refreshed > 500000000L) {
            ids = mx.getThreadInfo(mx.getAllThreadIds, 0).filter(t =>
              t != null && t.getThreadName.startsWith("Executor task launch"))
              .map(_.getThreadId)
            refreshed = System.nanoTime()
          }
          val op = current
          if (op >= 0) mx.getThreadInfo(ids, Trace.StackDepth).foreach { t =>
            if (t != null && t.getThreadState == Thread.State.RUNNABLE) {
              val frames = t.getStackTrace
              if (frames.exists(_.getClassName.startsWith("org.apache.spark.executor.Executor$TaskRunner"))) {
                add(op, "samples_busy", 1)
                val owner = frames.iterator.map(_.getClassName)
                  .find(c => c.startsWith("graft.") || c.startsWith("org.apache.spark."))
                if (owner.exists(c => c.startsWith("graft.operators.") || c.startsWith("graft.functions.")))
                  add(op, "samples_operators", 1)
              }
            }
          }
          Thread.sleep(Trace.SampleMs)
        } catch { case _: InterruptedException => interrupt() }
      }
    }
  }
  def start(): Unit = sampler.start()
  def stop(): Unit = { sampler.interrupt(); sampler.join() }

  def toJson: String = {
    val sp = spans.synchronized(spans.toList).map(s =>
      Json(Seq(s.op, s.name, s.start, s.end)))
    val cs = mutable.Map[String, Any]()
    counters.forEach((op, m) => cs(op.toString) = m.synchronized(m.toMap))
    s"""{"cores":$cores,"sample_ms":${Trace.SampleMs},"spans":${sp.mkString("[", ",", "]")},"counters":${Json(cs)}}"""
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val SampleMs = 10L
  val StackDepth = 64
}
