package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The gtfsrt write path must close the connector loop: rows written
  * through the sink come back identical through the reader (batch AND
  * stream), landings respect the monotonic-stamp contract the read
  * watermark relies on, and failed commits leave nothing visible.
  */
class GtfsRtSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // float-representable doubles: lat/lon are FLOAT on the wire
  private def vpRows: Seq[(String, Option[String], String, Option[Double],
      Option[Double], Option[Long], Option[String], Long)] = Seq(
    ("T1", Some("R1"), "veh-1", Some(43.5d), Some(7.25d), Some(182L), Some("S1"), 1000000L),
    ("T2", Some("R2"), "veh-2", Some(43.75d), Some(7.5d), Some(90L), Some("S2"), 1000010L),
    ("T3", None, "veh-3", None, None, None, None, 1000020L))

  private def vpDf = {
    import spark.implicits._
    vpRows.toDF("trip_id", "route_id", "vehicle_id", "latitude",
      "longitude", "bearing", "stop_id", "timestamp_epoch")
  }

  test("vehicle positions round-trip: connector write then connector read") {
    val dir = TestSpark.tempDir("sink_vp")
    vpDf.repartition(1).write.format("gtfsrt")
      .option("kind", "vehicle_positions").option("stamp", "20250903_1000")
      .mode("append").save(dir)

    // the landed file follows the snapshot naming scheme
    val names = new java.io.File(dir).list().toSeq.filter(_.endsWith(".pb"))
    assert(names == Seq("vehicle_positions_20250903_1000.pb"))

    val back = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions").load(dir)
      .collect().map(r => (r.getAs[String]("trip_id"),
        Option(r.getAs[String]("route_id")), r.getAs[String]("vehicle_id"),
        Option(r.getAs[Any]("latitude")).map(_.asInstanceOf[Double]),
        Option(r.getAs[Any]("longitude")).map(_.asInstanceOf[Double]),
        Option(r.getAs[Any]("bearing")).map(_.asInstanceOf[Long]),
        Option(r.getAs[String]("stop_id")), r.getAs[Long]("timestamp_epoch")))
      .sortBy(_._1).toSeq
    assert(back == vpRows)
  }

  test("trip updates and stop-time updates round-trip; null trip_id rows drop") {
    import spark.implicits._
    val tuDir = TestSpark.tempDir("sink_tu")
    Seq(("TU1", "R1", Some(0L)), ("TU2", "R2", None), (null, "R9", Some(1L)))
      .toDF("trip_id", "route_id", "direction_id")
      .repartition(1).write.format("gtfsrt")
      .option("kind", "trip_updates").option("stamp", "20250903_1000")
      .mode("append").save(tuDir)
    val tu = spark.read.format("gtfsrt").option("kind", "trip_updates")
      .load(tuDir).collect()
      .map(r => (r.getAs[String]("trip_id"), r.getAs[String]("route_id"),
        Option(r.getAs[Any]("direction_id")))).sortBy(_._1).toSeq
    assert(tu == Seq(("TU1", "R1", Some(0L)), ("TU2", "R2", None)),
      "null-trip row cannot be represented and must drop (decoder HasField gate)")

    val stDir = TestSpark.tempDir("sink_st")
    Seq(("TU1", 1L, "S1", Some(1000060L), Some(1000090L)),
        ("TU1", 2L, "S2", None, Some(1000300L)))
      .toDF("trip_id", "stop_sequence", "stop_id", "arrival_time", "departure_time")
      .repartition(1).write.format("gtfsrt")
      .option("kind", "stop_time_updates").option("stamp", "20250903_1000")
      .mode("append").save(stDir)
    val st = spark.read.format("gtfsrt").option("kind", "stop_time_updates")
      .load(stDir).collect()
      .map(r => (r.getAs[String]("trip_id"), r.getAs[Long]("stop_sequence"),
        r.getAs[String]("stop_id"), Option(r.getAs[Any]("arrival_time")),
        Option(r.getAs[Any]("departure_time")))).sortBy(t => (t._1, t._2)).toSeq
    assert(st == Seq(("TU1", 1L, "S1", Some(1000060L), Some(1000090L)),
      ("TU1", 2L, "S2", None, Some(1000300L))))
  }

  test("monotonic-stamp contract: a commit at or before the watermark is refused") {
    val dir = TestSpark.tempDir("sink_mono")
    def land(stamp: String): Unit =
      vpDf.repartition(1).write.format("gtfsrt")
        .option("kind", "vehicle_positions").option("stamp", stamp)
        .mode("append").save(dir)
    land("20250903_1002")
    val before = new java.io.File(dir).list().toSeq.sorted
    // equal and earlier stamps both violate the watermark ordering
    for (bad <- Seq("20250903_1002", "20250903_1000")) {
      val e = intercept[Exception](land(bad))
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.toString +: causes(t.getCause)
      assert(causes(e).exists(_.contains("monotonic-stamp")), causes(e).mkString("; "))
    }
    // the refused commits left nothing behind — no .pb, no temp litter
    assert(new java.io.File(dir).list().toSeq.sorted == before)
    // and a later stamp still lands
    land("20250903_1004")
    assert(new java.io.File(dir).list().count(_.endsWith(".pb")) == 2)
  }

  test("multi-partition commit: _pNN files, all readable, stamp-prunable") {
    import spark.implicits._
    val dir = TestSpark.tempDir("sink_parts")
    vpDf.repartition(3, $"trip_id").write.format("gtfsrt")
      .option("kind", "vehicle_positions").option("stamp", "20250903_1000")
      .mode("append").save(dir)
    val names = new java.io.File(dir).list().toSeq.filter(_.endsWith(".pb")).sorted
    assert(names.nonEmpty && names.forall(_.matches("""vehicle_positions_20250903_1000_p\d\d\.pb""")),
      names.mkString(","))
    val back = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions").load(dir)
    assert(back.count() == vpRows.length)
    // part-suffixed names still carry the stamp for file pruning
    assert(names.forall(n => graft.gtfs.Landing.StampRe.findFirstMatchIn(n).nonEmpty))
  }

  test("epoch retry: re-committing a landed epoch lands nothing and drops its own temps") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = TestSpark.tempDir("sink_retry")
    val kind = "vehicle_positions"
    val schema = GtfsRtSource.schemaFor(kind)
    // one task attempt: a single row written to an invisible temp file
    def attempt() = {
      val w = new GtfsRtDataWriter(kind, dir, schema, 0L)
      w.write(InternalRow(UTF8String.fromString("T1"), null, UTF8String.fromString("v1"),
        43.5d, 7.25d, 10L, null, 1000000L))
      Array[org.apache.spark.sql.connector.write.WriterCommitMessage](w.commit())
    }
    def files() = new java.io.File(dir).list().toSeq.filterNot(_.endsWith(".crc")).sorted
    val write = new GtfsRtStreamingWrite(kind, dir, schema, "20250910_0800", 0L)
    write.commit(3L, attempt())
    val landed = files()
    assert(landed == Seq("vehicle_positions_20250910_0806.pb"), landed.mkString(","))
    val retry = attempt()
    assert(files().exists(_.endsWith(".tmp")), "the retried attempt wrote its temp")
    write.commit(3L, retry)
    assert(files() == landed, "a retried epoch lands nothing new and leaves no temp")
  }

  test("sink-written snapshots stream through the connector exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = TestSpark.tempDir("sink_stream_vp")
    val out = TestSpark.tempDir("sink_stream_out")
    val ckpt = TestSpark.tempDir("sink_stream_ckpt")
    def land(stamp: String, tsBase: Long): Unit = {
      import spark.implicits._
      Seq(("T1", "R1", "v1", 43.5d, 7.25d, 10L, "S1", tsBase))
        .toDF("trip_id", "route_id", "vehicle_id", "latitude",
          "longitude", "bearing", "stop_id", "timestamp_epoch")
        .repartition(1).write.format("gtfsrt")
        .option("kind", "vehicle_positions").option("stamp", stamp)
        .mode("append").save(dir)
    }
    def drain(): Long = {
      val q = spark.readStream.format("gtfsrt")
        .option("kind", "vehicle_positions").load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.schema(GtfsRtSource.schemaFor("vehicle_positions"))
        .parquet(out).count()
    }
    land("20250903_1000", 1000000L)
    assert(drain() == 1L)
    land("20250903_1002", 1000120L)
    assert(drain() == 2L, "only the new sink-written snapshot appends")
    assert(drain() == 2L, "no-op when the sink landed nothing new")
  }

  test("RtStream.startRelay: the one-call pipeline relay composes and preserves content") {
    val src = TestSpark.tempDir("relay_src")
    val dst = TestSpark.tempDir("relay_dst")
    val dst2 = TestSpark.tempDir("relay_dst2")
    vpDf.repartition(1).write.format("gtfsrt")
      .option("kind", "vehicle_positions").option("stamp", "20250903_1000")
      .mode("append").save(src)

    graft.gtfs.RtStream.startRelay(spark, "vehicle_positions", src, dst,
      TestSpark.tempDir("relay_ckpt"), stampBase = "20250910_0800").awaitTermination()
    assert(new java.io.File(dst).list().toSeq.filter(_.endsWith(".pb"))
      == Seq("vehicle_positions_20250910_0800.pb"))
    // the relayed dir is itself a valid landing dir: relay it again
    graft.gtfs.RtStream.startRelay(spark, "vehicle_positions", dst, dst2,
      TestSpark.tempDir("relay_ckpt2"), stampBase = "20250910_0900").awaitTermination()
    val back = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions").load(dst2)
      .collect().map(_.getAs[String]("trip_id")).sorted.toSeq
    assert(back == Seq("T1", "T2", "T3"), "content survives two relay hops")
  }

  test("streaming write: connector-to-connector relay lands stepped-stamp snapshots") {
    import org.apache.spark.sql.streaming.Trigger
    val src = TestSpark.tempDir("ssink_src")
    val dst = TestSpark.tempDir("ssink_dst")
    val ckpt = TestSpark.tempDir("ssink_ckpt")
    // two source snapshots through the BATCH sink
    def land(stamp: String, trip: String): Unit = {
      import spark.implicits._
      Seq((trip, Some("R1"), "v1", Some(43.5d), Some(7.25d), Some(10L), Some("S1"), 1000000L))
        .toDF("trip_id", "route_id", "vehicle_id", "latitude",
          "longitude", "bearing", "stop_id", "timestamp_epoch")
        .repartition(1).write.format("gtfsrt")
        .option("kind", "vehicle_positions").option("stamp", stamp)
        .mode("append").save(src)
    }
    // read the landing dir as a stream, WRITE through the streaming
    // sink into a second landing dir — the connector loop both ways
    land("20250903_1000", "T1")
    val q1 = spark.readStream.format("gtfsrt")
      .option("kind", "vehicle_positions").load(src)
      .repartition(1)
      .writeStream.format("gtfsrt")
      .option("kind", "vehicle_positions")
      .option("stampBase", "20250910_0800")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(dst)
    q1.awaitTermination()
    val names1 = new java.io.File(dst).list().toSeq.filter(_.endsWith(".pb")).sorted
    assert(names1 == Seq("vehicle_positions_20250910_0800.pb"), names1.mkString(","))

    // a second source snapshot → the next epoch lands base + 2 min
    land("20250903_1002", "T2")
    val q2 = spark.readStream.format("gtfsrt")
      .option("kind", "vehicle_positions").load(src)
      .repartition(1)
      .writeStream.format("gtfsrt")
      .option("kind", "vehicle_positions")
      .option("stampBase", "20250910_0800")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(dst)
    q2.awaitTermination()
    val names2 = new java.io.File(dst).list().toSeq.filter(_.endsWith(".pb")).sorted
    assert(names2 == Seq("vehicle_positions_20250910_0800.pb",
      "vehicle_positions_20250910_0802.pb"), names2.mkString(","))

    // the relayed landing dir reads back to the full source content
    val out = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions").load(dst)
      .collect().map(_.getAs[String]("trip_id")).sorted.toSeq
    assert(out == Seq("T1", "T2"))
  }
}
