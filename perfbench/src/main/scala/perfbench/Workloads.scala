package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.gtfs.{BronzeIngest, Kpi, RtDecode, RtStream, Schemas, SilverTransforms}

/** Compares program output with the generator's expectations and
  * remembers which checks ran and which failed.
  */
final class Checker {
  val ran = mutable.LinkedHashSet.empty[String]
  val failed = mutable.LinkedHashSet.empty[String]
  val errors = mutable.ArrayBuffer.empty[String]

  def eq[A](name: String, expected: A, actual: A): Boolean = {
    ran += name
    if (expected == actual) true
    else {
      failed += name
      if (errors.size < 20) errors += s"$name: expected $expected, got $actual".take(400)
      false
    }
  }
}

/** What one timed iteration measured. */
final case class Sample(freshnessS: Double, refreshS: Double, kpiS: Double,
                        snapshots: Int, busyS: Double, written: Map[String, Long],
                        silverRows: Long, delivered: Double = 1.0) {
  /** The times as they would have been with no CPU steal ([[Cpu]]). */
  def stealFree(share: Double): Sample =
    copy(freshnessS = freshnessS * share, refreshS = refreshS * share, kpiS = kpiS * share,
      busyS = busyS * share, delivered = share)

  /** Bytes written to bronze, silver and relay output. */
  def writtenBytes: Long = written.collect { case (k, v) if k.endsWith("_bytes") => v }.sum
}

/** Everything a workload needs. `fault` plants one input fault (a
  * dropped snapshot and dropped static rows) while the expectations
  * still count the dropped data, so every check must fail.
  */
final class Ctx(val spark: SparkSession, val gen: Gen, val root: Path, val tracer: Tracer,
                val fault: Boolean, val checker: Checker) {
  var attempted = 0L
  var failed = 0L
  val decoded = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Runs one operation: an exception or a failed check counts it as
    * failed, and a failed operation is never returned as a sample.
    */
  def op[A](name: String)(body: => Option[A]): Option[A] = {
    attempted += 1
    val r = try body catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        checker.errors += s"$name threw ${e.getClass.getName}: ${e.getMessage}".take(400)
        None
    }
    if (r.isEmpty) failed += 1
    r
  }

  /** Decodes snapshots on this thread, as the traced run's decode
    * layer: the time of the program's parser and row extractors alone.
    */
  def decodeLayer(snaps: Seq[Snapshot], vehicles: Boolean = true): Unit = if (tracer.enabled) {
    for (s <- snaps; (bytes, isVp) <- Seq(s.tripUpdates -> false) ++ (if (vehicles) Seq(s.vehiclePositions -> true) else Nil)) {
      val t0 = System.nanoTime()
      val feed = RtDecode.parseFeedSafe(bytes)
      val rows = feed.map { f =>
        if (isVp) RtDecode.vehiclePositions(f).size
        else RtDecode.tripUpdates(f).size + RtDecode.tripStopTimes(f).size
      }
      decoded("busy_s") += (System.nanoTime() - t0) / 1e9
      decoded("snapshots") += 1
      decoded("bytes") += bytes.length
      decoded("rows") += rows.getOrElse(0)
      decoded("corrupt") += (if (feed.isEmpty) 1 else 0)
    }
  }
}

object Workloads {
  /** A workload: a set-up that generates and lands the inputs, a
    * warm-up that loads the static feed and runs the first iteration,
    * then the timed iterations.
    */
  trait Runner {
    def setup(): Boolean
    def warmup(): Boolean
    /** Untimed iterations after the warm-up, so timing starts warm. */
    def warmIterations: Int
    def iterate(): Option[Sample]
  }

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Files and bytes of bronze and silver on disk. */
  def warehouseState(wh: Path): Map[String, Long] = {
    val (bf, bb) = dirBytes(wh.resolve("bronze"))
    val (sf, sb) = dirBytes(wh.resolve("silver"))
    Map("bronze_files" -> bf, "bronze_bytes" -> bb, "silver_files" -> sf, "silver_bytes" -> sb)
  }

  def written(wh: Path, before: Map[String, Long]): Map[String, Long] =
    warehouseState(wh).map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  /** Traced runs only, after the timed steps: a second refresh that
    * must append nothing, and the seven watermark lookups alone.
    */
  def silverExtras(ctx: Ctx, wh: Path): Boolean = !ctx.tracer.enabled || {
    if (ctx.fault) { // a late bronze row the no-op refresh must then pick up
      val late = ctx.spark.createDataFrame(java.util.List.of(Row("T00000", 1L, "S0000", ctx.gen.dayStart, null)),
        Schemas.csvSchema(Schemas.bronze("trip_stop_times")))
      BronzeIngest.appendBronze(late, wh.resolve("bronze/trip_stop_times").toString,
        LocalDateTime.now().plusDays(1).withNano(0))
    }
    val (noop, _) = ctx.tracer.timed("silver.noop_refresh")(SilverTransforms.refreshAll(ctx.spark, wh.toString))
    ctx.tracer.time("silver.watermark") {
      SilverTransforms.transforms.keys.foreach { t =>
        SilverTransforms.watermark(ctx.spark, wh.resolve(s"silver/$t").toString, t)
      }
    }
    ctx.checker.eq("refresh.noop", Map.empty[String, Long], noop.filter(_._2 != 0))
  }

  def landSnapshot(tuDir: Path, vpDir: Path, s: Snapshot): Unit = {
    Gen.land(tuDir, s"trip_updates_${s.stamp}.pb", s.tripUpdates)
    Gen.land(vpDir, s"vehicle_positions_${s.stamp}.pb", s.vehiclePositions)
  }

  /** Expected rows per silver table for a refresh after `snaps` landed. */
  def rtRows(snaps: Seq[Snapshot]): Map[String, Long] = Map(
    "trip_updates_silver" -> snaps.map(_.headerRows.toLong).sum,
    "trip_stop_times_silver" -> snaps.map(_.obs.size.toLong).sum,
    "vehicle_positions_silver" -> snaps.map(_.vehicleRows.toLong).sum)

  def checkRefresh(ctx: Ctx, expected: Map[String, Long], actual: Map[String, Long],
                   skip: Set[String] = Set.empty): Boolean =
    SilverTransforms.transforms.keys.toSeq.sorted.filterNot(skip).map { t =>
      ctx.checker.eq(s"refresh.$t", expected.getOrElse(t, 0L), actual.getOrElse(t, -1L))
    }.forall(identity)

  def silver(spark: SparkSession, wh: Path, name: String): DataFrame =
    SilverTransforms.readSilver(spark, wh.toString, name)

  def spine(ctx: Ctx, wh: Path): DataFrame =
    Kpi.delaySpine(silver(ctx.spark, wh, "trip_stop_times_silver"),
      silver(ctx.spark, wh, "stop_times_static_silver"), ctx.gen.serviceDate)

  /** Kpi.avgDelayOverTime, checked bucket by bucket: n_obs exactly and
    * the bucket's delay sum through round(avg × n).
    */
  def avgDelayOverTime(ctx: Ctx, wh: Path, exp: Expected): (Boolean, Double) = {
    val (rows, s) = ctx.tracer.timed("kpi.avg_delay_over_time")(Kpi.avgDelayOverTime(spine(ctx, wh)).collect())
    val got = rows.map { r =>
      val start = r.getTimestamp(0).getTime / 1000
      val n = r.getLong(2)
      start -> (n, Math.round(r.getDouble(1) * n))
    }.toMap
    (ctx.checker.eq("kpi.avg_delay_over_time", exp.buckets.toMap, got), s)
  }

  /** Starts one ingest stream, waits for it to drain, keeps its progress. */
  def ingest(ctx: Ctx, name: String, layer: String)(start: => StreamingQuery): Double =
    ctx.tracer.time(name) {
      val q = start
      q.awaitTermination()
      ctx.tracer.recordProgress(layer, q)
    }

  def loadStatic(ctx: Ctx, csvDir: Path, wh: Path): Unit =
    BronzeIngest.loadStatic(ctx.spark, csvDir.toString, wh.toString,
      LocalDateTime.of(2025, 9, 3, 4, 0))

  // ---------------------------------------------------------------- rt_cycle

  /** The 2-minute cron, compressed: land one snapshot pair, drain both
    * ingest streams, refresh silver, compute the delay-over-time KPI.
    */
  final class RtCycle(ctx: Ctx, val history: Int) extends Runner {
    val warmIterations = 2
    val root: Path = ctx.root
    val tu: Path = root.resolve("landing/trip_updates")
    val vp: Path = root.resolve("landing/vehicle_positions")
    val wh: Path = root.resolve("warehouse")
    val exp = new Expected
    var next = 0

    def cycle(snaps: Seq[Snapshot], land: Boolean): Option[Sample] = ctx.op("rt_cycle") {
      val before = warehouseState(wh)
      if (land) landAll(snaps)
      val t0 = System.nanoTime()
      ingest(ctx, "stream.trip_updates", "stream")(RtStream.startTripUpdatesIngest(
        ctx.spark, tu.toString, wh.toString, root.resolve("ckpt/trip_updates").toString))
      ingest(ctx, "stream.vehicle_positions", "stream")(RtStream.startVehiclePositionsIngest(
        ctx.spark, vp.toString, wh.toString, root.resolve("ckpt/vehicle_positions").toString))
      val (counts, refreshS) = ctx.tracer.timed("silver.refresh")(SilverTransforms.refreshAll(ctx.spark, wh.toString))
      snaps.foreach(exp.addAll)
      val (kpiOk, kpiS) = avgDelayOverTime(ctx, wh, exp)
      val fresh = (System.nanoTime() - t0) / 1e9
      ctx.decodeLayer(snaps)
      val staticExp = if (next == 0) ctx.gen.staticRows() else Map.empty[String, Long]
      val refreshOk = checkRefresh(ctx, staticExp ++ rtRows(snaps), counts)
      next += snaps.size
      val extrasOk = silverExtras(ctx, wh)
      if (kpiOk && refreshOk && extrasOk)
        Some(Sample(fresh, refreshS, kpiS, 2 * snaps.size, fresh, written(wh, before), counts.values.sum))
      else None
    }

    /** Lands snapshots; with a planted fault the first one is lost. */
    private def landAll(snaps: Seq[Snapshot]): Unit =
      snaps.drop(if (ctx.fault) 1 else 0).foreach(landSnapshot(tu, vp, _))

    private lazy val past = (0 until history).map(ctx.gen.snapshot)

    def setup(): Boolean = {
      ctx.gen.writeStatic(root.resolve("static"), dropLast = ctx.fault)
      landAll(past)
      true
    }

    /** The first cycle processes the landed history. */
    def warmup(): Boolean = {
      loadStatic(ctx, root.resolve("static"), wh)
      cycle(past, land = false).isDefined
    }

    def iterate(): Option[Sample] = cycle(Seq(ctx.gen.snapshot(next)), land = true)
  }

  // ---------------------------------------------------------------- backfill

  /** Catch-up after an outage: drain a backlog of snapshot pairs into
    * a fresh warehouse through both ingest streams, refresh silver,
    * compute the KPI. ([[Relay]] is the connector half of the catch-up.)
    */
  final class Backfill(ctx: Ctx, val backlog: Int) extends Runner {
    val warmIterations = 1
    val root: Path = ctx.root
    val tu: Path = root.resolve("landing/trip_updates")
    val vp: Path = root.resolve("landing/vehicle_positions")
    val template: Path = root.resolve("static_warehouse")
    private lazy val snaps: Seq[Snapshot] = (0 until backlog).map(ctx.gen.snapshot)
    private lazy val exp = { val e = new Expected; snaps.foreach(e.addAll); e }
    var iter = 0

    def setup(): Boolean = {
      ctx.gen.writeStatic(root.resolve("static"), dropLast = ctx.fault)
      snaps.zipWithIndex.foreach { case (s, i) => if (!(ctx.fault && i == backlog / 2)) landSnapshot(tu, vp, s) }
      true
    }

    /** The first drain of the backlog warms up. */
    def warmup(): Boolean = {
      loadStatic(ctx, root.resolve("static"), template)
      iterate().isDefined
    }

    def iterate(): Option[Sample] = ctx.op("backfill") {
      val run = root.resolve(s"run$iter")
      iter += 1
      val wh = run.resolve("warehouse")
      copyTree(template, wh)
      try {
        val t0 = System.nanoTime()
        ingest(ctx, "stream.trip_updates", "stream")(RtStream.startTripUpdatesIngest(
          ctx.spark, tu.toString, wh.toString, run.resolve("ckpt/trip_updates").toString))
        ingest(ctx, "stream.vehicle_positions", "stream")(RtStream.startVehiclePositionsIngest(
          ctx.spark, vp.toString, wh.toString, run.resolve("ckpt/vehicle_positions").toString))
        val (counts, refreshS) = ctx.tracer.timed("silver.refresh")(SilverTransforms.refreshAll(ctx.spark, wh.toString))
        val (kpiOk, kpiS) = avgDelayOverTime(ctx, wh, exp)
        val fresh = (System.nanoTime() - t0) / 1e9
        ctx.decodeLayer(snaps)
        val refreshOk = checkRefresh(ctx, ctx.gen.staticRows() ++ rtRows(snaps), counts)
        val extrasOk = silverExtras(ctx, wh)
        if (kpiOk && refreshOk && extrasOk)
          Some(Sample(fresh, refreshS, kpiS, 2 * snaps.size, fresh, written(wh, Map.empty), counts.values.sum))
        else None
      } finally deleteTree(run)
    }
  }

  /** Relays the TripUpdates landing dir through the gtfsrt connector,
    * 25 snapshots per trigger, into parquet under `run`; checks the
    * relayed rows. Returns (seconds, files and bytes written, checks passed).
    */
  def relay(ctx: Ctx, src: Path, run: Path, exp: Expected): (Double, Map[String, Long], Boolean) = {
    val out = run.resolve("relay_out")
    val s = ingest(ctx, "connector.relay", "connector") {
      ctx.spark.readStream.format("gtfsrt")
        .option("kind", "stop_time_updates")
        .option("maxFilesPerTrigger", 25)
        .load(src.toString)
        .writeStream.format("parquet")
        .option("checkpointLocation", run.resolve("ckpt/relay").toString)
        .option("path", out.toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    val relayed = ctx.spark.read.parquet(out.toString)
      .agg(count(lit(1)), sum(coalesce(col("arrival_time"), col("departure_time")))).head()
    val ok = ctx.checker.eq("relay.rows", exp.rows, relayed.getLong(0)) &
      ctx.checker.eq("relay.obs_epoch_sum", exp.obsEpochSum, relayed.getLong(1))
    val (files, bytes) = dirBytes(out)
    (s, Map("relay_files" -> files, "relay_bytes" -> bytes), ok)
  }

  // ------------------------------------------------------------------- relay

  /** Catch-up through the connector: an outage backlog relayed through
    * the gtfsrt source, 25 snapshots per trigger, into parquet.
    */
  final class Relay(ctx: Ctx, val backlog: Int) extends Runner {
    val root: Path = ctx.root
    val tu: Path = root.resolve("landing/trip_updates")
    private lazy val snaps: Seq[Snapshot] = (0 until backlog).map(ctx.gen.snapshot)
    private lazy val exp = { val e = new Expected; snaps.foreach(e.addAll); e }
    var iter = 0
    val warmIterations = 2

    def setup(): Boolean = {
      snaps.zipWithIndex.foreach { case (s, i) =>
        if (!(ctx.fault && i == backlog / 2)) Gen.land(tu, s"trip_updates_${s.stamp}.pb", s.tripUpdates)
      }
      true
    }

    def warmup(): Boolean = true

    def iterate(): Option[Sample] = ctx.op("relay") {
      val run = root.resolve(s"run$iter")
      iter += 1
      try {
        val (s, written, ok) = relay(ctx, tu, run, exp)
        ctx.decodeLayer(snaps, vehicles = false)
        if (ok) Some(Sample(s, 0, 0, snaps.size, s, written, 0)) else None
      } finally deleteTree(run)
    }
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val d = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(d) else Files.copy(f, d)
    } finally s.close()
  }

  // ------------------------------------------------------------- kpi_history

  val Dashboard: Seq[String] = Seq("spine", "avg_delay_over_time", "punctuality", "top_routes",
    "top_stops", "heatmap", "distribution", "travel_time", "stops_state")

  /** The end-of-day dashboard over one deep service day: append one
    * snapshot's rows to bronze, refresh silver, run the nine KPIs.
    */
  final class KpiHistory(ctx: Ctx, val history: Int) extends Runner {
    val warmIterations = 1
    val root: Path = ctx.root
    val wh: Path = root.resolve("warehouse")
    val exp = new Expected
    var next = 0
    private val stuSchema = Schemas.csvSchema(Schemas.bronze("trip_stop_times"))
    private val tuSchema = Schemas.csvSchema(Schemas.bronze("trip_updates_raw"))

    /** Bronze rows of the given snapshots, as the decoder would emit
      * them; with `dropOne` the first snapshot's rows are lost.
      */
    private def frames(snaps: Seq[Snapshot], dropOne: Boolean): (DataFrame, DataFrame) = {
      val obs = snaps.drop(if (dropOne) 1 else 0).flatMap(_.obs)
      val stu = obs.map(o => Row(o.tripId, o.seq.toLong, o.stopId, o.obsEpoch, null))
      val tu = snaps.drop(if (dropOne) 1 else 0).flatMap(s => s.obs.map(o => (o.tripId, o.routeId)).distinct)
        .map { case (t, r) => Row(t, r, 0L) }
      (ctx.spark.createDataFrame(stu.asJava, stuSchema), ctx.spark.createDataFrame(tu.asJava, tuSchema))
    }

    def dashboard(): (Boolean, Double) = {
      val sp = spine(ctx, wh)
      def t[A](name: String)(body: => A): A = ctx.tracer.timed(s"kpi.$name")(body)._1
      val ck = ctx.checker
      val t0 = System.nanoTime()
      val spineRows = t("spine")(sp.queryExecution.toRdd.count())
      val avg = t("avg_delay_over_time")(Kpi.avgDelayOverTime(sp).collect())
      val punct = t("punctuality")(Kpi.punctualityRate(sp).head())
      val routes = t("top_routes")(Kpi.topDelayedRoutes(sp, silver(ctx.spark, wh, "trips_static_silver"),
        silver(ctx.spark, wh, "routes_static_silver")).collect())
      val stops = t("top_stops")(Kpi.topProblemStops(sp, silver(ctx.spark, wh, "stops_static_silver")).collect())
      val heat = t("heatmap")(Kpi.delayHeatmap(sp).collect())
      val dist = t("distribution")(Kpi.delayDistribution(sp).collect())
      val travel = t("travel_time")(Kpi.travelTimeRealVsTheoretical(sp).collect())
      val state = t("stops_state")(Kpi.stopsServiceState(sp, silver(ctx.spark, wh, "stops_static_silver")).collect())
      val s = (System.nanoTime() - t0) / 1e9
      val n = punct.getLong(1)
      val ok = Seq(
        ck.eq("kpi.spine", exp.rows, spineRows),
        ck.eq("kpi.avg_delay_over_time", exp.buckets.toMap, avg.map { r =>
          val k = r.getLong(2); r.getTimestamp(0).getTime / 1000 -> (k, Math.round(r.getDouble(1) * k))
        }.toMap),
        ck.eq("kpi.punctuality", (exp.rows, exp.onTime), (n, Math.round(punct.getDouble(0) * n))),
        ck.eq("kpi.top_routes", exp.top(exp.routes, 10), routes.map(r => r.getString(0) -> r.getLong(2)).toSeq),
        ck.eq("kpi.top_stops", exp.top(exp.stops, 10), stops.map(r => r.getString(0) -> r.getLong(2)).toSeq),
        ck.eq("kpi.heatmap", exp.cells.toMap, heat.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(3)).toMap),
        ck.eq("kpi.distribution", exp.minutes.toMap, dist.map(r => r.getLong(0) -> r.getLong(1)).toMap),
        ck.eq("kpi.travel_time", exp.trips.toMap, travel.map(r => r.getString(0) -> r.getLong(3)).toMap),
        ck.eq("kpi.stops_state", (Gen.Stops.toLong, exp.stops.size.toLong, exp.rows),
          (state.length.toLong, state.count(_.getAs[String]("service_state") == "active").toLong,
            state.map(_.getAs[Long]("n_obs")).sum)))
      (ok.forall(identity), s)
    }

    /** Appends the rows of `snaps`, stamped one tick after the last. */
    def append(snaps: Seq[Snapshot], dropOne: Boolean): Double = {
      val (stu, tu) = frames(snaps, dropOne)
      val ts = LocalDateTime.of(2025, 9, 3, 6, 0).plusMinutes(2L * (next + snaps.size - 1))
      ctx.tracer.time("bronze.append") {
        BronzeIngest.appendBronze(stu, wh.resolve("bronze/trip_stop_times").toString, ts)
        BronzeIngest.appendBronze(tu, wh.resolve("bronze/trip_updates_raw").toString, ts)
      }
    }

    def iteration(snaps: Seq[Snapshot], dropOne: Boolean): Option[Sample] = ctx.op("kpi_history") {
      val before = warehouseState(wh)
      val appendS = append(snaps, dropOne)
      val (counts, refreshS) = ctx.tracer.timed("silver.refresh")(SilverTransforms.refreshAll(ctx.spark, wh.toString))
      snaps.foreach(exp.addAll)
      val (kpiOk, kpiS) = dashboard()
      val staticExp = if (next == 0) ctx.gen.staticRows() else Map.empty[String, Long]
      val tuRows = snaps.map(_.obs.map(_.tripId).distinct.size.toLong).sum
      val refreshOk = checkRefresh(ctx, staticExp ++ Map(
        "trip_stop_times_silver" -> snaps.map(_.obs.size.toLong).sum, "trip_updates_silver" -> tuRows), counts,
        skip = Set("vehicle_positions_silver")) // this workload appends no vehicle positions
      next += snaps.size
      val busy = appendS + refreshS + kpiS
      val extrasOk = silverExtras(ctx, wh)
      if (kpiOk && refreshOk && extrasOk)
        Some(Sample(busy, refreshS, kpiS, snaps.size, busy, written(wh, before), counts.values.sum))
      else None
    }

    private lazy val past = (0 until history).map(ctx.gen.snapshot)

    def setup(): Boolean = {
      ctx.gen.writeStatic(root.resolve("static"), dropLast = ctx.fault)
      past.nonEmpty
    }

    /** The first iteration appends and refreshes the whole history. */
    def warmup(): Boolean = {
      loadStatic(ctx, root.resolve("static"), wh)
      iteration(past, dropOne = ctx.fault).isDefined
    }

    def iterate(): Option[Sample] = iteration(Seq(ctx.gen.snapshot(next)), dropOne = ctx.fault)
  }
}
