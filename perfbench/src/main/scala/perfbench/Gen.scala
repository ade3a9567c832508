package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, LocalDate, ZoneId, ZoneOffset}
import java.util.SplittableRandom
import scala.collection.mutable

/** Minimal protobuf wire writer. The benchmark encodes its own feeds
  * so that its inputs do not depend on the encoder of the program it
  * measures.
  */
final class ProtoOut {
  private val buf = new java.io.ByteArrayOutputStream()
  def bytes: Array[Byte] = buf.toByteArray
  private def varint(v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) { buf.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    buf.write(v.toInt)
  }
  private def tag(field: Int, wireType: Int): Unit = varint(((field << 3) | wireType).toLong)
  def int(field: Int, v: Long): this.type = { tag(field, 0); varint(v); this }
  def float(field: Int, v: Float): this.type = {
    tag(field, 5)
    val i = java.lang.Float.floatToIntBits(v)
    for (s <- 0 until 32 by 8) buf.write((i >>> s) & 0xFF)
    this
  }
  def str(field: Int, s: String): this.type = {
    val b = s.getBytes(UTF_8)
    tag(field, 2); varint(b.length.toLong); buf.write(b, 0, b.length)
    this
  }
  def msg(field: Int)(body: ProtoOut => Unit): this.type = {
    val m = new ProtoOut
    body(m)
    val b = m.bytes
    tag(field, 2); varint(b.length.toLong); buf.write(b, 0, b.length)
    this
  }
}

/** One observed stop event, as the delay spine should see it. */
final case class Obs(tripId: String, routeId: String, seq: Int, stopId: String,
                     obsEpoch: Long, delayS: Long)

/** One generated snapshot pair and what decoding it must yield. */
final case class Snapshot(stamp: String, tripUpdates: Array[Byte],
                          vehiclePositions: Array[Byte], headerRows: Int,
                          vehicleRows: Int, obs: Vector[Obs])

/** Seeded, single-threaded generator of a GTFS network, its static
  * CSV files and its GTFS-RT snapshots. Snapshot `k` depends only on
  * (seed, k), so history, backlog and live cycles can be generated in
  * any order. Everything a check needs is computed here, without
  * Spark.
  */
final class Gen(val seed: Long) {
  import Gen._

  val serviceDate: LocalDate = LocalDate.of(2025, 9, 3)
  val dayStart: Long = serviceDate.atStartOfDay(ZoneId.of("Europe/Paris")).toEpochSecond

  private def rng(stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  /** Per trip: route, direction, first scheduled second, first stop. */
  private val tripRoute = new Array[Int](Trips)
  private val tripDir = new Array[Int](Trips)
  private val tripStart = new Array[Int](Trips)
  private val tripStop0 = new Array[Int](Trips)
  locally {
    val r = rng(-1)
    for (t <- 0 until Trips) {
      tripRoute(t) = r.nextInt(Routes)
      tripDir(t) = r.nextInt(2)
      tripStart(t) = 5 * 3600 + r.nextInt(19 * 3600)
      tripStop0(t) = r.nextInt(Stops)
    }
  }

  private val tripIds = Array.tabulate(Trips)(t => f"T$t%05d")
  private val routeIds = Array.tabulate(Routes)(r => f"R$r%03d")
  private val stopIds = Array.tabulate(Stops)(s => f"S$s%04d")
  def tripId(t: Int): String = tripIds(t)
  def routeId(r: Int): String = routeIds(r)
  def stopId(s: Int): String = stopIds(s)
  /** Stop of trip `t` at 1-based sequence `seq`. */
  def stopOf(t: Int, seq: Int): Int = (tripStop0(t) + (seq - 1) * 7) % Stops
  /** Scheduled service-day second of trip `t` at sequence `seq`. */
  def schedS(t: Int, seq: Int): Int = tripStart(t) + (seq - 1) * 120

  private def gtfsTime(s: Int): String = f"${s / 3600}%d:${s / 60 % 60}%02d:${s % 60}%02d"

  /** Static GTFS text files, as `BronzeIngest.loadStatic` reads them.
    * `dropLast` leaves out each file's last data row (a planted fault).
    */
  def staticFiles(dropLast: Boolean = false): Seq[(String, String)] = {
    def file(header: String, rows: Seq[String]): String =
      (header +: (if (dropLast) rows.dropRight(1) else rows)).mkString("", "\n", "\n")
    Seq(
      "routes.txt" -> file(
        "route_id,agency_id,route_short_name,route_long_name,route_type,route_url,route_color,route_text_color",
        (0 until Routes).map(r => s"${routeId(r)},AG,$r,\"Ligne $r, Centre\",3,,0000FF,FFFFFF")),
      "trips.txt" -> file(
        "route_id,service_id,trip_id,trip_headsign,trip_short_name,direction_id,shape_id,wheelchair_accessible,bike_allowed",
        (0 until Trips).map(t => s"${routeId(tripRoute(t))},SVC1,${tripId(t)},Terminus,,${tripDir(t)},SH1,1,0")),
      "stops.txt" -> file(
        "stop_id,stop_code,stop_name,stop_lat,stop_lon,zone_id,location_type,parent_station,stop_timezone,wheelchair_boarding",
        (0 until Stops).map(s => s"${stopId(s)},C$s,Arret $s,${43.6 + s * 1e-4},${7.2 + s * 1e-4},Z1,0,,,1")),
      "stop_times.txt" -> file(
        "trip_id,arrival_time,departure_time,stop_id,stop_sequence,pickup_type,drop_off_type",
        for (t <- 0 until Trips; seq <- 1 to StopsPerTrip) yield {
          val g = gtfsTime(schedS(t, seq))
          s"${tripId(t)},$g,$g,${stopId(stopOf(t, seq))},$seq,0,0"
        }))
  }

  def writeStatic(dir: Path, dropLast: Boolean = false): Unit = {
    Files.createDirectories(dir)
    staticFiles(dropLast).foreach { case (name, body) => Files.writeString(dir.resolve(name), body) }
  }

  /** Rows each static silver table gets on its first refresh. */
  def staticRows(dropLast: Boolean = false): Map[String, Long] = {
    val d = if (dropLast) 1L else 0L
    Map("routes_static_silver" -> (Routes - d), "trips_static_silver" -> (Trips - d),
      "stops_static_silver" -> (Stops - d), "stop_times_static_silver" -> (Trips.toLong * StopsPerTrip - d))
  }

  /** Snapshot `k`: feed time 06:00 Paris + k × 2 min. */
  def snapshot(k: Int): Snapshot = {
    val r = rng(k.toLong)
    val feedTs = dayStart + 6 * 3600L + k * 120L
    val stamp = Instant.ofEpochSecond(feedTs).atZone(ZoneId.of("Europe/Paris"))
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmm"))
    // TripUpdatesPerSnapshot distinct trips (partial Fisher-Yates)
    val pool = Array.tabulate(Trips)(identity)
    for (i <- 0 until TripUpdatesPerSnapshot) {
      val j = i + r.nextInt(Trips - i)
      val tmp = pool(i); pool(i) = pool(j); pool(j) = tmp
    }
    val trips = pool.take(TripUpdatesPerSnapshot)
    val obs = Vector.newBuilder[Obs]
    val tu = new ProtoOut
    tu.msg(1)(_.str(1, "2.0").int(2, 0).int(3, feedTs))
    for ((t, i) <- trips.zipWithIndex) {
      tu.msg(2) { e =>
        e.str(1, s"e$k-$i")
        e.msg(3) { u =>
          u.msg(1)(_.str(1, tripId(t)).str(5, routeId(tripRoute(t))).int(6, tripDir(t).toLong))
          for (seq <- 1 to StopsPerTrip) {
            val delay = r.nextInt(-300, 901).toLong
            val epoch = dayStart + schedS(t, seq) + delay
            val departureOnly = r.nextInt(10) == 0
            u.msg(2) { s =>
              s.int(1, seq.toLong).str(4, stopId(stopOf(t, seq)))
              if (departureOnly) s.msg(3)(_.int(2, epoch))
              else s.msg(2)(_.int(2, epoch)).msg(3)(_.int(2, epoch + 30))
            }
            obs += Obs(tripId(t), routeId(tripRoute(t)), seq, stopId(stopOf(t, seq)), epoch, delay)
          }
        }
      }
    }
    // a repeated trip header (first occurrence wins) and an entity
    // without a trip update: neither adds a row
    tu.msg(2)(_.str(1, s"e$k-dup").msg(3)(_.msg(1)(_.str(1, tripId(trips(0))).str(5, "R999"))))
    tu.msg(2)(_.str(1, s"e$k-empty"))

    val vp = new ProtoOut
    vp.msg(1)(_.str(1, "2.0").int(2, 0).int(3, feedTs))
    for (v <- 0 until VehiclesPerSnapshot) {
      val t = trips(v % trips.length)
      vp.msg(2) { e =>
        e.str(1, s"v$k-$v")
        e.msg(4) { p =>
          p.msg(1)(_.str(1, tripId(t)).str(5, routeId(tripRoute(t))))
          p.msg(2)(_.float(1, 43.6f + r.nextInt(1000) * 1e-4f)
            .float(2, 7.2f + r.nextInt(1000) * 1e-4f).float(3, r.nextInt(3600) / 10f))
          p.int(5, feedTs - r.nextInt(60))
          p.str(7, stopId(stopOf(t, 1 + r.nextInt(StopsPerTrip))))
          p.msg(8)(_.str(1, f"V$v%04d"))
        }
      }
    }
    Snapshot(stamp, tu.bytes, vp.bytes, TripUpdatesPerSnapshot, VehiclesPerSnapshot, obs.result())
  }
}

object Gen {
  final val Routes = 40
  final val Stops = 1200
  final val Trips = 2400
  final val StopsPerTrip = 15
  final val TripUpdatesPerSnapshot = 400
  final val VehiclesPerSnapshot = 300

  /** Land a file the way a poller should: write a hidden temp file,
    * then rename it into place, so no reader sees half a snapshot.
    */
  def land(dir: Path, name: String, bytes: Array[Byte]): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def utcHourAndIsoDow(epoch: Long): (Int, Int) = {
    val t = Instant.ofEpochSecond(epoch).atOffset(ZoneOffset.UTC)
    (t.getHour, t.getDayOfWeek.getValue)
  }
}

/** Running totals of everything landed so far: the expected output of
  * every KPI, computed without Spark.
  */
final class Expected {
  var rows = 0L
  var onTime = 0L
  val buckets = mutable.Map.empty[Long, (Long, Long)] // 15-min start → (n, Σ delay)
  val minutes = mutable.Map.empty[Long, Long]         // delay minute → n
  val cells = mutable.Map.empty[(Int, Int), Long]     // (iso dow, hour) → n
  val routes = mutable.Map.empty[String, (Long, Long)]
  val stops = mutable.Map.empty[String, (Long, Long)]
  val trips = mutable.Map.empty[String, Long]
  var obsEpochSum = 0L

  private def add2(m: mutable.Map[String, (Long, Long)], k: String, d: Long): Unit = {
    val (n, s) = m.getOrElse(k, (0L, 0L)); m(k) = (n + 1, s + d)
  }

  def add(o: Obs): Unit = {
    rows += 1
    if (o.delayS <= 300) onTime += 1
    val b = Math.floorDiv(o.obsEpoch, 900L) * 900L
    val (n, s) = buckets.getOrElse(b, (0L, 0L)); buckets(b) = (n + 1, s + o.delayS)
    val m = Math.floorDiv(o.delayS, 60L); minutes(m) = minutes.getOrElse(m, 0L) + 1
    val cell = { val (h, d) = Gen.utcHourAndIsoDow(o.obsEpoch); (d, h) }
    cells(cell) = cells.getOrElse(cell, 0L) + 1
    add2(routes, o.routeId, o.delayS)
    add2(stops, o.stopId, o.delayS)
    trips(o.tripId) = trips.getOrElse(o.tripId, 0L) + 1
    obsEpochSum += o.obsEpoch
  }

  def addAll(s: Snapshot): Unit = s.obs.foreach(add)

  /** Top-k keys by average delay, descending, ties by key — the order
    * `Kpi.topDelayedRoutes` / `topProblemStops` must produce. Spark's
    * average of integral values is Σ/n in doubles, exact here.
    */
  def top(m: mutable.Map[String, (Long, Long)], k: Int): Seq[(String, Long)] =
    m.toSeq.sortBy { case (key, (n, s)) => (-(s.toDouble / n), key) }.take(k)
      .map { case (key, (n, _)) => key -> n }
}
