package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.gtfs.{Fixtures, RtDecode}

/** The gtfsrt DataSourceV2 connector must agree with the established
  * binaryFile+decode path (RtDecode.decodeDir) on the same snapshot
  * files, prune columns INTO the scan, one-partition-per-file, and
  * swallow corrupt snapshots as zero rows.
  */
class GtfsRtSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeSnapshots(): (String, String) = {
    val tu = TestSpark.tempDir("dsv2_tu")
    val vp = TestSpark.tempDir("dsv2_vp")
    Fixtures.writeRtSnapshots(tu, vp)
    (tu, vp)
  }

  test("vehicle positions via the connector equal the decodeDir path") {
    val (_, vp) = writeSnapshots()
    val viaSource = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions").load(vp)
      .collect().map(_.toSeq).toSet
    val (_, _, viaDecode) = RtDecode.decodeDir(spark, vp)
    assert(viaSource == viaDecode.collect().map(_.toSeq).toSet)
    assert(viaSource.nonEmpty)
  }

  test("trip updates + stop times kinds decode through the connector") {
    val (tu, _) = writeSnapshots()
    val headers = spark.read.format("gtfsrt")
      .option("kind", "trip_updates").load(tu)
    val stus = spark.read.format("gtfsrt")
      .option("kind", "stop_time_updates").load(tu)
    val (expHeaders, expStu, _) = RtDecode.decodeDir(spark, tu)
    assert(headers.collect().map(_.toSeq).toSet ==
      expHeaders.collect().map(_.toSeq).toSet)
    assert(stus.collect().map(_.toSeq).toSet ==
      expStu.collect().map(_.toSeq).toSet)
  }

  test("column pruning reaches the scan (visible in the scan description)") {
    import spark.implicits._
    val (_, vp) = writeSnapshots()
    val q = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions").load(vp)
      .select($"trip_id", $"latitude")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pruned=[trip_id,latitude]"), plan.take(800))
    assert(q.collect().forall(_.length == 2))
  }

  test("filter pushdown: predicate evaluates in the source, exactly, and shows in the scan") {
    import spark.implicits._
    val (_, vp) = writeSnapshots()
    val all = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions").load(vp)
    val expected = all.collect()
      .filter(r => r.getString(2) != null && r.getString(2) == "veh-2")
    val q = all.filter($"vehicle_id" === "veh-2")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("filters=[") && plan.contains("EqualTo(vehicle_id,veh-2)"),
      plan.take(900))
    // exact source-side application: no residual Filter node above the scan
    assert(!plan.contains("Filter ("), plan.take(900))
    assert(q.collect().map(_.toSeq).toSet == expected.map(_.toSeq).toSet)
    assert(q.count() > 0)
  }

  test("stamp-based file pruning skips snapshot files outside a pushed ts range") {
    import spark.implicits._
    val vp = TestSpark.tempDir("dsv2_prune")
    // two snapshots an hour apart; stamps in Paris wall-clock, feed
    // header epochs matching (the writer contract the prune relies on)
    val zone = java.time.ZoneId.of("Europe/Paris")
    def epochOf(stamp: String): Long =
      java.time.LocalDateTime.parse(stamp,
          java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmm"))
        .atZone(zone).toEpochSecond
    val (s1, s2) = ("20250903_1000", "20250903_1100")
    Fixtures.writeRtSnapshots(TestSpark.tempDir("dsv2_prune_tu1"), vp,
      stamp = s1, feedTs = epochOf(s1))
    Fixtures.writeRtSnapshots(TestSpark.tempDir("dsv2_prune_tu2"), vp,
      stamp = s2, feedTs = epochOf(s2))

    def read(prune: Boolean) = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions")
      .option("fileStampPrune", prune.toString).load(vp)
      .filter($"timestamp_epoch" >= epochOf(s2) - 300)

    assert(read(prune = false).rdd.getNumPartitions == 2,
      "without pruning both snapshot files plan")
    val pruned = read(prune = true)
    assert(pruned.rdd.getNumPartitions == 1,
      "the 10:00 snapshot falls outside range+slack and is skipped")
    // values agree: file pruning only removes files the row filter
    // would have emptied anyway
    assert(pruned.collect().map(_.toSeq).toSet ==
      read(prune = false).collect().map(_.toSeq).toSet)
  }

  test("streaming read: checkpointed name-watermark processes each snapshot exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val vp = TestSpark.tempDir("dsv2_stream_vp")
    val out = TestSpark.tempDir("dsv2_stream_out")
    val ckpt = TestSpark.tempDir("dsv2_stream_ckpt")

    def drain(): Unit = {
      val q = spark.readStream.format("gtfsrt")
        .option("kind", "vehicle_positions").load(vp)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val outSchema = GtfsRtSource.schemaFor("vehicle_positions")

    Fixtures.writeRtSnapshots(TestSpark.tempDir("dsv2_s_tu1"), vp,
      stamp = "20250903_1000", feedTs = 1000000L)
    drain()
    val n1 = spark.read.schema(outSchema).parquet(out).count()
    assert(n1 > 0)

    // a second, later-stamped snapshot; same checkpoint → only the new
    // file plans (the first would double row counts if reprocessed)
    Fixtures.writeRtSnapshots(TestSpark.tempDir("dsv2_s_tu2"), vp,
      stamp = "20250903_1002", feedTs = 1000120L)
    drain()
    val rows = spark.read.schema(outSchema).parquet(out)
    assert(rows.count() == 2 * n1, "second run appends exactly one snapshot's rows")
    // and a third run with nothing new is a no-op
    drain()
    assert(spark.read.schema(outSchema).parquet(out).count() == 2 * n1)
  }

  test("maxFilesPerTrigger: AvailableNow drains in bounded batches with identical output") {
    import org.apache.spark.sql.streaming.Trigger
    val vp = TestSpark.tempDir("dsv2_throttle_vp")
    val out = TestSpark.tempDir("dsv2_throttle_out")
    val ckpt = TestSpark.tempDir("dsv2_throttle_ckpt")
    for (i <- 0 until 6)
      Fixtures.writeRtSnapshots(TestSpark.tempDir(s"dsv2_th_$i"), vp,
        stamp = f"20250903_10${i}%02d", feedTs = 1000000L + i * 60)
    val q = spark.readStream.format("gtfsrt")
      .option("kind", "vehicle_positions")
      .option("maxFilesPerTrigger", 2)
      .load(vp)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches == 3, s"6 snapshots / 2 per trigger must run 3 batches, got $batches")
    val outSchema = GtfsRtSource.schemaFor("vehicle_positions")
    val throttled = spark.read.schema(outSchema).parquet(out)
    val direct = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions").load(vp)
    assert(throttled.count() == direct.count(),
      "throttling must not change what gets relayed")
  }

  test("streaming read handles nested subdirectories: paths resolve, same-named files don't collide") {
    import org.apache.spark.sql.streaming.Trigger
    val root = TestSpark.tempDir("dsv2_nested_vp")
    val out = TestSpark.tempDir("dsv2_nested_out")
    val ckpt = TestSpark.tempDir("dsv2_nested_ckpt")
    // two snapshots with IDENTICAL file names in different subdirs —
    // a bare-name offset key would collide them (one double-read, one
    // dropped) and reconstruct wrong paths at read time
    Fixtures.writeRtSnapshots(TestSpark.tempDir("dsv2_n_tu1"), s"$root/day1",
      stamp = "20250903_1000", feedTs = 1000000L)
    Fixtures.writeRtSnapshots(TestSpark.tempDir("dsv2_n_tu2"), s"$root/day2",
      stamp = "20250903_1000", feedTs = 1000120L)
    val q = spark.readStream.format("gtfsrt")
      .option("kind", "vehicle_positions").load(root)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val outSchema = GtfsRtSource.schemaFor("vehicle_positions")
    val streamed = spark.read.schema(outSchema).parquet(out).count()
    val batch = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions").load(root).count()
    assert(streamed == batch,
      s"streaming read $streamed rows vs batch $batch over the same nested landing dir")
    assert(streamed > 0)

    // later-stamped snapshot in a LEXICOGRAPHICALLY-EARLIER subdir
    // ("day10" < "day2" as strings): the watermark must order by the
    // name stamp, not the subdir path, or this file is silently lost
    Fixtures.writeRtSnapshots(TestSpark.tempDir("dsv2_n_tu3"), s"$root/day10",
      stamp = "20250903_1004", feedTs = 1000240L)
    val q2 = spark.readStream.format("gtfsrt")
      .option("kind", "vehicle_positions").load(root)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val after = spark.read.schema(outSchema).parquet(out).count()
    assert(after > streamed,
      "a later-stamped snapshot in an earlier-sorting subdir must still be ingested")
  }

  test("one input partition per snapshot file; corrupt file yields zero rows") {
    val (_, vp) = writeSnapshots()
    // add a second (corrupt) snapshot
    java.nio.file.Files.write(
      java.nio.file.Paths.get(vp, "vehicle_positions_garbage.pb"),
      Array[Byte](1, 2, 3, 4, 5))
    val df = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions").load(vp)
    assert(df.rdd.getNumPartitions == 2)
    val (_, _, clean) = RtDecode.decodeDir(spark, vp)
    assert(df.count() == clean.count()) // decodeDir also skips corrupt
  }

  test("legacy tab-less checkpoint offset restarts clean: processed snapshot not re-planned") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val vp = TestSpark.tempDir("dsv2_legacy_vp")
    Fixtures.writeRtSnapshots(TestSpark.tempDir("dsv2_legacy_tu"), vp,
      stamp = "20250903_1000", feedTs = 1000000L)
    val schema = GtfsRtSource.schemaFor("vehicle_positions")
    val s = new GtfsRtMicroBatchStream(vp, new GtfsRtReaderFactory("vehicle_positions",
      schema, schema, Array.empty[org.apache.spark.sql.sources.Filter]))
    // a checkpoint written before offset keys grew the \t<relpath>
    // suffix stores the bare basename; un-migrated, the same file's
    // new key "name\tname" compares greater and the file re-reads
    val legacy = s.deserializeOffset("vehicle_positions_20250903_1000.pb")
    val latest = s.latestOffset(legacy, ReadLimit.allAvailable())
    assert(s.planInputPartitions(legacy, latest).isEmpty,
      "already-processed latest snapshot must not be re-read after the offset-format change")
    // a genuinely newer snapshot still plans from the migrated offset
    Fixtures.writeRtSnapshots(TestSpark.tempDir("dsv2_legacy_tu2"), vp,
      stamp = "20250903_1002", feedTs = 1000120L)
    val latest2 = s.latestOffset(legacy, ReadLimit.allAvailable())
    assert(s.planInputPartitions(legacy, latest2).length == 1)
  }
}
