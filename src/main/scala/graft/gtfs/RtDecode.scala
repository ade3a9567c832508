package graft.gtfs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** GTFS-RT feed decode → the three bronze row families
  * (dags/gtfs_rt_minutely.py:79-176). Pure functions per feed message
  * (unit-testable without Spark) + Spark wrappers that distribute the
  * decode over a Dataset of snapshot blobs.
  *
  * Scale design: one feed snapshot is one ~100 KB blob; a 100 TB
  * archive is millions of blobs. `spark.read.format("binaryFile")`
  * gives one row per file, decode runs in `flatMap` on executors —
  * embarrassingly parallel, no shuffle. Per-snapshot first-wins dedup
  * is partition-local by construction (a snapshot never spans files).
  */
object RtDecode {

  /** Trip headers, first occurrence of each trip_id wins within the
    * snapshot (the `seen_trips` set of gtfs_rt_minutely.py:84-100).
    */
  def tripUpdates(feed: RtFeedMessage): Seq[TripUpdateRow] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    feed.entities.flatMap { e =>
      for {
        tu <- e.tripUpdate
        trip <- tu.trip
        tripId <- trip.tripId
        if seen.add(tripId)
      } yield TripUpdateRow(tripId, trip.routeId.orNull, trip.directionId)
    }
  }

  /** Explode of repeated stop_time_update (gtfs_rt_minutely.py:103-109);
    * absent arrival/departure → null (HasField gates).
    */
  def tripStopTimes(feed: RtFeedMessage): Seq[StopTimeUpdateRow] =
    for {
      e <- feed.entities
      tu <- e.tripUpdate.toSeq
      trip <- tu.trip.toSeq
      tripId <- trip.tripId.toSeq
      stu <- tu.stopTimeUpdates
    } yield StopTimeUpdateRow(
      tripId, stu.stopSequence, stu.stopId.orNull,
      stu.arrival.flatMap(_.time), stu.departure.flatMap(_.time))

  /** Vehicle extraction with null-safe optionals and the float→int
    * bearing rounding of gtfs_rt_minutely.py:172.
    */
  def vehiclePositions(feed: RtFeedMessage): Seq[VehiclePositionRow] =
    feed.entities.flatMap { e =>
      e.vehicle.map { v =>
        VehiclePositionRow(
          trip_id = v.trip.flatMap(_.tripId).orNull,
          route_id = v.trip.flatMap(_.routeId).orNull,
          vehicle_id = v.vehicle.flatMap(_.id).orNull,
          latitude = v.position.flatMap(_.latitude).map(_.toDouble),
          longitude = v.position.flatMap(_.longitude).map(_.toDouble),
          bearing = v.position.flatMap(_.bearing).map(b => Math.round(b.toDouble)),
          stop_id = v.stopId.orNull,
          timestamp_epoch = v.timestamp)
      }
    }

  // ---- Spark wrappers ----

  /** One row per snapshot file under `dir` (recursive glob), carrying
    * the raw bytes + source path. The binaryFile source prunes columns
    * and parallelizes by file — the idiomatic "stage" scan (S6 is
    * obsolete, SURVEY §2.1).
    */
  def readFeedFiles(spark: SparkSession, dir: String, glob: String = Landing.Glob): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("content"))

  /** Corrupt-tolerant parse: a truncated or garbage snapshot yields
    * None instead of killing the job — the protobuf analog of the
    * CSV path's ON_ERROR='CONTINUE'. At 100 TB of polled snapshots,
    * some WILL be half-written; one bad file must not fail the batch.
    *
    * A snapshot cut exactly at an entity boundary is a valid, shorter
    * feed — protobuf has no top-level end marker — so it parses to the
    * complete feed's first entities and lands. Any other cut fails
    * (every length-delimited field is checked against its enclosing
    * message) and yields None.
    */
  def parseFeedSafe(bytes: Array[Byte]): Option[RtFeedMessage] =
    try Some(GtfsRtProto.parseFeed(bytes))
    catch { case scala.util.control.NonFatal(_) => None }

  /** ONE parse per blob → (parse_ok, headers, stop_times). Corrupt
    * blobs yield (false, Nil, Nil) so callers can count them —
    * tolerated but never invisible. Callers that write both outputs
    * should persist this Dataset across the two actions
    * (BronzeIngest.ingestTripUpdateBlobs does) so neither the source
    * read nor the protobuf decode runs twice.
    */
  def decodePairs(blobs: Dataset[Array[Byte]])
      : Dataset[(Boolean, Seq[TripUpdateRow], Seq[StopTimeUpdateRow])] = {
    import blobs.sparkSession.implicits._
    blobs.map { b =>
      parseFeedSafe(b) match {
        case Some(feed) => (true, tripUpdates(feed), tripStopTimes(feed))
        case None => (false, Nil, Nil)
      }
    }
  }

  def decodeTripUpdateBlobs(blobs: Dataset[Array[Byte]]): (Dataset[TripUpdateRow], Dataset[StopTimeUpdateRow]) = {
    import blobs.sparkSession.implicits._
    val parsed = decodePairs(blobs)
    (parsed.flatMap(_._2), parsed.flatMap(_._3))
  }

  def decodeVehicleBlobs(blobs: Dataset[Array[Byte]]): Dataset[VehiclePositionRow] = {
    import blobs.sparkSession.implicits._
    blobs.flatMap(b => parseFeedSafe(b).toSeq.flatMap(vehiclePositions))
  }

  /** Full bronze decode of a snapshot directory: returns the three
    * bronze DataFrames (without insert_date — BronzeIngest stamps it).
    */
  def decodeDir(spark: SparkSession, dir: String, glob: String = Landing.Glob)
      : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val blobs = readFeedFiles(spark, dir, glob).select("content").as[Array[Byte]]
    val (tu, stu) = decodeTripUpdateBlobs(blobs)
    val vp = decodeVehicleBlobs(blobs)
    (tu.toDF(), stu.toDF(), vp.toDF())
  }

  /** T4 snapshot semantics, explicit: the `Landing` minute stamp each
    * snapshot file carries in its name (gtfs_rt_minutely.py:29-31,
    * 111-113) parsed to a timestamp column — so windowed analytics can
    * group by snapshot rather than by ingest batch.
    */
  def snapshotTs(pathCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    to_timestamp(
      regexp_extract(pathCol, Landing.StampRe.regex, 1), Landing.StampPattern)

  /** K2/F9 debug dump: decoded feed entities rendered one per text
    * line (the reference's `str(ent.trip_update)` export,
    * gtfs_rt_minutely.py:34-68 / scripts/export_rt_text.py:27-44).
    * Distributed map → text sink; debug artifact only.
    */
  def dumpFeedText(spark: SparkSession, dir: String, outDir: String,
                   glob: String = Landing.Glob): Unit = {
    import spark.implicits._
    readFeedFiles(spark, dir, glob).select("content").as[Array[Byte]]
      .flatMap(b => parseFeedSafe(b).toSeq.flatMap(_.entities.map(_.toString)))
      .write.mode("overwrite").text(outDir)
  }
}
