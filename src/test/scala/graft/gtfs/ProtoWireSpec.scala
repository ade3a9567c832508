package graft.gtfs

import org.scalatest.funsuite.AnyFunSuite

class ProtoWireSpec extends AnyFunSuite {

  test("feed round-trip: header + entities decode") {
    val feed = GtfsRtProto.parseFeed(Fixtures.tripUpdatesSnapshot())
    assert(feed.timestamp.contains(1756884757L))
    assert(feed.entities.length === 4)
    assert(feed.entities(3).tripUpdate.isEmpty) // HasField gate
  }

  test("trip header dedup is first-wins (gtfs_rt_minutely.py:98-100)") {
    val rows = RtDecode.tripUpdates(GtfsRtProto.parseFeed(Fixtures.tripUpdatesSnapshot()))
    assert(rows.map(_.trip_id) === Seq("TU1", "TU2"))
    val tu1 = rows.find(_.trip_id == "TU1").get
    assert(tu1.route_id === "R1")          // first occurrence kept, R9 dropped
    assert(tu1.direction_id === Some(0L))
    val tu2 = rows.find(_.trip_id == "TU2").get
    assert(tu2.direction_id === None)      // absent optional → None
  }

  test("stop_time_update explode with absent arrival/departure") {
    val rows = RtDecode.tripStopTimes(GtfsRtProto.parseFeed(Fixtures.tripUpdatesSnapshot()))
    assert(rows.length === 3)
    val s2 = rows.find(_.stop_id == "S2").get
    assert(s2.arrival_time === None)       // departure-only update
    assert(s2.departure_time === Some(1756884757L + 300))
    assert(rows.count(_.trip_id == "TU1") === 2) // dup header still explodes once
  }

  test("vehicle positions: optionals null-safe, bearing rounds to long") {
    val rows = RtDecode.vehiclePositions(GtfsRtProto.parseFeed(Fixtures.vehiclePositionsSnapshot()))
    assert(rows.length === 3)
    val v1 = rows.find(_.vehicle_id == "veh-1").get
    assert(v1.bearing === Some(182L))      // 181.6f rounds (gtfs_rt_minutely.py:172)
    assert(v1.route_id === "chouette:Line:07759d26-x:LOC")
    val v2 = rows.find(_.vehicle_id == "veh-2").get
    assert(v2.latitude === None && v2.bearing === None)
    val v3 = rows.find(_.vehicle_id == "veh-3").get
    assert(v3.trip_id === null && v3.latitude.isDefined)
  }

  test("unknown fields are skipped (forward compatibility)") {
    val w = new ProtoWire.Writer
    w.message(1)(h => h.string(1, "2.0").int(3, 42L))
    w.int(99, 7L)                          // unknown varint field
    w.string(98, "future")                 // unknown len field
    val feed = GtfsRtProto.parseFeed(w.toBytes)
    assert(feed.timestamp.contains(42L) && feed.entities.isEmpty)
  }

  test("varint round-trip at 64-bit boundaries") {
    for (v <- Seq(0L, 1L, 127L, 128L, 300L, Int.MaxValue.toLong, Long.MaxValue)) {
      val w = new ProtoWire.Writer
      w.varintRaw(v)
      val r = new ProtoWire.Reader(w.toBytes)
      assert(r.readVarint() === v, s"for $v")
    }
  }

  test("a length prefix past the enclosing message's end is rejected, not read from the sibling") {
    // entity (len 2) whose id declares 9 bytes: the 9 bytes after the
    // entity's end belong to the next top-level field
    val bytes = Array(0x12, 0x02, 0x0A, 0x09, 0x12, 0x07, 0x0A, 0x05,
      0x68, 0x65, 0x6C, 0x6C, 0x6F).map(_.toByte)
    intercept[IllegalArgumentException](GtfsRtProto.parseFeed(bytes))
    assert(RtDecode.parseFeedSafe(bytes).isEmpty)
  }
}
