package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters, summed over every job the session runs. Read as
  * deltas between two snapshots.
  */
final class Meter extends SparkListener with QueryExecutionListener {
  val c: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("executor_run_s") += m.executorRunTime / 1e3
      c("executor_cpu_s") += m.executorCpuTime / 1e9
      c("gc_s") += m.jvmGCTime / 1e3
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
      c("shuffle_fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
      c("spill_bytes") += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
      c("scan_bytes") += m.inputMetrics.bytesRead.toDouble
    }
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTasks.remove(e.stageInfo.stageId).filter(_.size > 1).foreach { d =>
      val sorted = d.sorted
      val median = math.max(sorted(sorted.size / 2), 1L)
      c("task_skew_max") = math.max(c("task_skew_max"), sorted.last.toDouble / median)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    add("driver_planning_s", Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum / 1e3)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(spark: SparkSession): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram keeps no sum: compile time is estimated as
    // compilations × the mean of its recent samples (ms)
    synchronized(c.toMap) ++ Map(
      "codegen_compiles" -> h.getCount.toDouble,
      "codegen_compile_s" -> h.getCount * h.getSnapshot.getMean / 1e3)
  }
}

/** How much of the CPU time this machine's processes wanted they got.
  * On a shared virtual machine the hypervisor takes ("steals") vCPU
  * time at a rate that changes from minute to minute, and every wall
  * time stretches with it. Scaling a wall time by the delivered share,
  * busy / (busy + steal) over the same interval, gives the time the
  * work would have taken with no steal. Read from `/proc/stat`; where
  * that is missing the share is 1.
  */
object Cpu {
  final case class Ticks(busy: Long, steal: Long)

  def ticks(): Ticks =
    try {
      // cpu  user nice system idle iowait irq softirq steal ...
      val v = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      Ticks(v(0) + v(1) + v(2) + v(5) + v(6), v(7))
    } catch { case scala.util.control.NonFatal(_) => Ticks(0, 0) }

  def delivered(from: Ticks, to: Ticks): Double = {
    val busy = to.busy - from.busy
    val steal = to.steal - from.steal
    if (busy <= 0 || steal < 0) 1.0 else busy.toDouble / (busy + steal)
  }

  /** Runs `body`; returns its result and the share delivered meanwhile. */
  def measure[A](body: => A): (A, Double) = {
    val t0 = ticks()
    val r = body
    (r, delivered(t0, ticks()))
  }
}

/** One timed call. `parent` is the index of the enclosing span. */
final case class Span(name: String, iter: Int, startNs: Long, var endNs: Long, parent: Int,
                      var counters: Map[String, Double] = Map.empty)

/** Times every public call the workloads make. With tracing on it
  * also keeps each call as a span, with the engine counters it
  * caused, and the streaming progress of each query; with tracing off
  * it only returns the wall time.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  var iter: Int = -1
  val meter: Option[Meter] = if (enabled) {
    val m = new Meter
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    Some(m)
  } else None
  /** Streaming progress durations by layer: stream or connector. */
  val progress = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Long]]]

  /** Runs `body`, returns its result and its wall time in seconds. */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val before = meter.map(_.snapshot(spark))
    val idx = spans.size
    val t0 = System.nanoTime()
    if (enabled) { spans += Span(name, iter, t0, t0, open.headOption.getOrElse(-1)); open.push(idx) }
    try {
      val r = body
      val t1 = System.nanoTime()
      (r, (t1 - t0) / 1e9)
    } finally if (enabled) {
      val s = spans(idx)
      s.endNs = System.nanoTime()
      open.pop()
      for (b <- before; a <- meter.map(_.snapshot(spark)))
        s.counters = a.map { case (k, v) => k -> (if (k == "task_skew_max") v else v - b.getOrElse(k, 0.0)) }
    }
  }

  def time(name: String)(body: => Unit): Double = timed(name)(body)._2

  /** Keeps the per-trigger durations of a finished query. */
  def recordProgress(layer: String, q: StreamingQuery): Unit = if (enabled) {
    val buf = progress.getOrElseUpdate(layer, mutable.ArrayBuffer.empty)
    q.recentProgress.foreach { p =>
      buf += p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    }
  }
}
