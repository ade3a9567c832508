package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints one JSON result line.
  *
  *   perfbench.Main --workload rt_cycle --seed 1 --seconds 10 --trace 0 --work DIR [--cores N]
  *
  * `--cores` defaults to all. The self-test also plants input faults
  * and runs single set-ups through [[Args]].
  */
object Main {
  val WorkloadNames = Seq("rt_cycle", "relay", "backfill", "kpi_history")

  /** Workload sizes, in 2-minute snapshots. */
  val RtHistory = 10
  val Backlog = 30
  val KpiHistoryDepth = 30
  val MinIterations = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cores: Int, fault: Boolean, setups: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(WorkloadNames.contains(w), s"unknown workload $w (expected one of ${WorkloadNames.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      fault = false, setups = 3)
  }

  def session(args: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", args.work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use right after a full collection, in MB. Spark's cleaner
    * frees broadcast and shuffle blocks only after a collection has
    * cleared their references, so collect, wait for it, collect again.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def runner(args: Args, ctx: Ctx): Workloads.Runner = args.workload match {
    case "rt_cycle" => new Workloads.RtCycle(ctx, RtHistory)
    case "relay" => new Workloads.Relay(ctx, Backlog)
    case "backfill" => new Workloads.Backfill(ctx, Backlog)
    case "kpi_history" => new Workloads.KpiHistory(ctx, KpiHistoryDepth)
  }

  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                           e2e: Seq[(String, Double, String)], layers: Seq[(String, Double, String)],
                           ctx: Ctx, tracer: Tracer, samples: Seq[Sample],
                           setupTimes: Seq[Double]) {
    def checker: Checker = ctx.checker
  }

  /** Sets up `args.setups` times (keeping the last), warms up (the
    * first pass plus the workload's untimed iterations), then iterates
    * for `args.seconds` and at least [[MinIterations]] times. setup_s
    * is the median set-up plus the warm-up.
    */
  def run(spark: SparkSession, args: Args): Outcome = {
    val gen = new Gen(args.seed)
    val tracer = new Tracer(args.trace, spark)
    var ctx: Ctx = null
    var r: Workloads.Runner = null
    val checker = new Checker
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var setupOk = true
    var (attempted, failed) = (0L, 0L)
    for (i <- 0 until args.setups) {
      val root = args.work.resolve(s"${args.workload}-setup$i")
      Workloads.deleteTree(root)
      if (ctx != null) {
        Workloads.deleteTree(ctx.root)
        attempted += ctx.attempted; failed += ctx.failed
      }
      ctx = new Ctx(spark, gen, root, tracer, args.fault, checker)
      tracer.spans.clear(); tracer.progress.clear()
      val t0 = System.nanoTime()
      r = runner(args, ctx)
      val (ok, share) = Cpu.measure(ctx.op("setup")(if (r.setup()) Some(()) else None).isDefined)
      setupOk &= ok
      setupTimes += (System.nanoTime() - t0) / 1e9 * share
    }
    val warmupT0 = System.nanoTime()
    val (_, warmShare) = Cpu.measure {
      if (setupOk) setupOk = ctx.op("warmup")(if (r.warmup()) Some(()) else None).isDefined
      for (_ <- 0 until r.warmIterations if setupOk) setupOk = r.iterate().isDefined
    }
    val warmupS = (System.nanoTime() - warmupT0) / 1e9 * warmShare
    tracer.spans.clear(); tracer.progress.clear(); ctx.decoded.clear()
    tracer.meter.foreach(_.c("task_skew_max") = 0.0)
    val meterStart = tracer.meter.map(_.snapshot(spark))

    val samples = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    var iter = 0
    while (setupOk && (iter < MinIterations || (System.nanoTime() - t0) / 1e9 < args.seconds)) {
      tracer.iter = iter
      tracer.time("iteration") {
        val (s, share) = Cpu.measure(r.iterate())
        s.foreach(samples += _.stealFree(share))
      }
      iter += 1
    }
    val meterEnd = tracer.meter.map(_.snapshot(spark))
    val liveHeap = liveHeapMb()

    val e2e = Seq(
      ("setup_s", median(setupTimes.toSeq) + warmupS, "s"),
      ("freshness_p50_s", median(samples.map(_.freshnessS).toSeq), "s"),
      ("throughput_snapshots_per_s", median(samples.map(s => s.snapshots / s.busyS).toSeq), "1/s"),
      ("written_kb_per_iter", median(samples.map(_.writtenBytes / 1024.0).toSeq), "KiB"),
      ("live_heap_mb", liveHeap, "MB"))
    val layers = if (args.trace) Layers.metrics(ctx, samples.toSeq, iter, meterStart.get, meterEnd.get) else Nil
    attempted += ctx.attempted; failed += ctx.failed
    val correct = setupOk && failed == 0 && samples.nonEmpty
    Outcome(correct, attempted, failed, e2e, layers, ctx, tracer, samples.toSeq, setupTimes.toSeq :+ warmupS)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def resultJson(o: Outcome, trace: Boolean): String = {
    val ms = (if (trace) o.layers else o.e2e).map { case (k, v, u) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val sessionT0 = System.nanoTime()
    val spark = session(args)
    val sessionS = (System.nanoTime() - sessionT0) / 1e9
    val o = try run(spark, args) finally spark.stop()
    o.checker.errors.foreach(e => System.err.println(s"[perfbench] check failed: $e"))
    Layers.writeRecord(args, o, sessionS)
    println(resultJson(o, args.trace))
  }
}
