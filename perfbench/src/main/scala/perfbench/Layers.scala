package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The traced run's per-layer metrics and the record every run leaves
  * behind. Per-iteration figures are totals over the timed phase
  * divided by the number of timed iterations.
  */
object Layers {
  import Main.{median, num, str}

  /** Streaming progress keys → metric suffixes. */
  val StreamKeys: Seq[(String, String)] = Seq(
    "triggerExecution" -> "trigger_ms", "latestOffset" -> "latest_offset_ms",
    "getBatch" -> "get_batch_ms", "queryPlanning" -> "query_planning_ms",
    "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
    "commitOffsets" -> "commit_offsets_ms")
  val ConnectorKeys: Set[String] = Set("trigger_ms", "latest_offset_ms", "add_batch_ms")
  val SparkKeys: Seq[String] = Seq("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_write_bytes", "shuffle_fetch_wait_s", "spill_bytes", "task_skew_max",
    "driver_planning_s", "codegen_compile_s")
  val SelfLayers: Seq[String] = Seq("bench", "stream", "connector", "bronze", "silver", "kpi")
  /** Spans the traced run adds after the timed steps; the engine
    * counters leave them out.
    */
  val ExtraSpans: Set[String] = Set("silver.noop_refresh", "silver.watermark")

  private def layerOf(span: String): String =
    if (span == "iteration") "bench" else span.takeWhile(_ != '.')

  /** Each layer's self time: its spans' durations minus the part their
    * direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val childS = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childS(s.parent) += (s.endNs - s.startNs) / 1e9)
    spans.zipWithIndex.groupMapReduce { case (s, _) => layerOf(s.name) } {
      case (s, i) => (s.endNs - s.startNs) / 1e9 - childS(i)
    }(_ + _)
  }

  def metrics(ctx: Ctx, samples: Seq[Sample], iters: Int, start: Map[String, Double],
              end: Map[String, Double]): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    val n = math.max(iters, 1).toDouble
    def spanS(name: String): Seq[Double] =
      tr.spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq
    def progress(layer: String) = tr.progress.getOrElse(layer, mutable.ArrayBuffer.empty).toSeq
    def unit(k: String) =
      if (k.endsWith("_ms")) "ms" else if (k.endsWith("_s")) "s"
      else if (k.endsWith("bytes")) "bytes" else "count"
    def streamLayer(layer: String, keep: String => Boolean) = {
      val ps = progress(layer)
      (s"$layer.batches", ps.size / n, "count") +: StreamKeys.collect {
        case (k, m) if keep(m) => (s"$layer.$m", median(ps.flatMap(_.get(k)).map(_.toDouble)).max(0.0), "ms")
      }.map { case (k, v, u) => (k, if (v.isNaN) 0.0 else v, u) }
    }
    val streamAdd = progress("stream").flatMap(_.get("addBatch")).sum / 1e3
    val kpiSpans = tr.spans.filter(_.name.startsWith("kpi."))
    def kpiCounter(k: String) = kpiSpans.map(_.counters.getOrElse(k, 0.0)).sum / n
    def w(k: String) = samples.map(_.written.getOrElse(k, 0L)).sum / n
    val landing = Seq("landing/trip_updates", "landing/vehicle_positions").map(d => Workloads.dirBytes(ctx.root.resolve(d)))
    val self = selfTimes(tr.spans.toSeq)
    def med(name: String) = { val m = median(spanS(name)); if (m.isNaN) 0.0 else m }

    streamLayer("stream", _ => true) ++
      streamLayer("connector", ConnectorKeys) ++
      Seq(("connector.landing_files", if (progress("connector").isEmpty) 0.0 else landing.head._1.toDouble, "count")) ++
      Seq("snapshots", "bytes", "rows", "busy_s", "corrupt").map(k => (s"decode.$k", ctx.decoded(k) / n, unit(k))) ++
      Seq(("bronze.append_s", (spanS("bronze.append").sum + streamAdd) / n, "s"),
        ("bronze.rows", samples.map(_.silverRows).sum / n, "count"),
        ("bronze.files", w("bronze_files"), "count"), ("bronze.bytes", w("bronze_bytes"), "bytes"),
        ("silver.refresh_s", med("silver.refresh"), "s"),
        ("silver.noop_refresh_s", med("silver.noop_refresh"), "s"),
        ("silver.watermark_s", med("silver.watermark"), "s"),
        ("silver.rows_appended", samples.map(_.silverRows).sum / n, "count"),
        ("silver.files", w("silver_files"), "count"), ("silver.bytes", w("silver_bytes"), "bytes")) ++
      Workloads.Dashboard.map(k => (s"kpi.${k}_s", med(s"kpi.$k"), "s")) ++
      Seq(("kpi.scan_bytes", kpiCounter("scan_bytes"), "bytes"),
        ("kpi.shuffle_bytes", kpiCounter("shuffle_write_bytes"), "bytes")) ++
      SparkKeys.map { k =>
        val extra = tr.spans.filter(s => ExtraSpans(s.name)).map(_.counters.getOrElse(k, 0.0)).sum
        val v = if (k == "task_skew_max") end(k) else (end(k) - start.getOrElse(k, 0.0) - extra) / n
        (s"spark.$k", v, if (k == "task_skew_max") "ratio" else unit(k))
      } ++
      Seq(("fs.landing_files", landing.map(_._1).sum.toDouble, "count"),
        ("fs.landing_bytes", landing.map(_._2).sum.toDouble, "bytes"),
        ("fs.warehouse_files", w("bronze_files") + w("silver_files") + w("relay_files"), "count"),
        ("fs.warehouse_bytes", samples.map(_.writtenBytes).sum / n, "bytes")) ++
      SelfLayers.map(l => (s"$l.self_s", self.getOrElse(l, 0.0) / n, "s"))
  }

  /** Writes what the run measured, with its raw samples and, when
    * traced, its spans, to `<work>/records/`.
    */
  def writeRecord(args: Main.Args, o: Main.Outcome, sessionS: Double): Path = {
    val dir = Files.createDirectories(args.work.resolve("records"))
    val f = dir.resolve(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}-cores${args.cores}.json")
    def kv(xs: Seq[(String, Double, String)]) =
      xs.map { case (k, v, u) => s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}" }.mkString(", ")
    def arr(xs: Seq[Double]) = xs.map(num).mkString("[", ", ", "]")
    val t0 = o.tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val spans = o.tracer.spans.map { s =>
      val counters = s.counters.filter(_._2 != 0).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
      s"""{"name": ${str(s.name)}, "iter": ${s.iter}, "start_ms": ${num((s.startNs - t0) / 1e6)}, """ +
        s""""end_ms": ${num((s.endNs - t0) / 1e6)}, "parent": ${s.parent}, "counters": {$counters}}"""
    }
    val self = selfTimes(o.tracer.spans.toSeq).toSeq.sorted.map { case (k, v) => s"${str(k)}: ${num(v)}" }
    Files.writeString(f,
      s"""{"workload": ${str(args.workload)}, "seed": ${args.seed}, "cores": ${args.cores}, "trace": ${args.trace},
         |"seconds": ${num(args.seconds)}, "session_start_s": ${num(sessionS)},
         |"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed},
         |"checks_ran": ${o.checker.ran.toSeq.map(str).mkString("[", ", ", "]")},
         |"checks_failed": ${o.checker.failed.toSeq.map(str).mkString("[", ", ", "]")},
         |"end_to_end": {${kv(o.e2e)}},
         |"per_layer": {${kv(o.layers)}},
         |"samples": {"setups_then_warmup_s": ${arr(o.setupTimes)}, "freshness_s": ${arr(o.samples.map(_.freshnessS))}, "refresh_s": ${arr(o.samples.map(_.refreshS))},
         |  "kpi_s": ${arr(o.samples.map(_.kpiS))}, "busy_s": ${arr(o.samples.map(_.busyS))},
         |  "cpu_delivered": ${arr(o.samples.map(_.delivered))}},
         |"self_s": {${self.mkString(", ")}},
         |"spans": [${spans.mkString(",\n  ")}]}
         |""".stripMargin)
    f
  }
}
