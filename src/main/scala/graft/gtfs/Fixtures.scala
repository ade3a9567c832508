package graft.gtfs

import java.nio.file.{Files, Paths}
import graft.gtfs.ProtoWire.Writer

/** GTFS-shaped fixtures per FIXTURES.md §A/§B: static CSVs with the
  * reference's quirks (quoted commas, empty-string nulls, >24:00:00
  * times, malformed rows) and protobuf RT snapshots built with the
  * self-contained wire encoder.
  */
object Fixtures {

  def writeStaticCsvs(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    def w(name: String, body: String): Unit =
      Files.writeString(Paths.get(s"$dir/$name"), body)

    w("routes.txt",
      """route_id,agency_id,route_short_name,route_long_name,route_type,route_url,route_color,route_text_color
        |R1,AG,1,"Port, Gare et Centre",3,,0000FF,FFFFFF
        |R2,AG,2,Gare - Aéroport,3,http://example/r2,FF0000,
        |R3,AG,,Ligne C,0,NULL,null,FFFFFF
        |""".stripMargin)

    w("trips.txt",
      """route_id,service_id,trip_id,trip_headsign,trip_short_name,direction_id,shape_id,wheelchair_accessible,bike_allowed
        |R1,SVC1,6444367-33_R_99_3304_09:09-SETP2025-33-Mercredi-36,Port,,0,SH1,1,2
        |R1,SVC1,T2,Centre,court,1,SH1,0,0
        |R2,SVC1,T3,Aéroport,,0,SH2,1,1
        |R2,SVC1,T4,Gare,,,SH2,,
        |""".stripMargin)

    w("stops.txt",
      """stop_id,stop_code,stop_name,stop_lat,stop_lon,zone_id,location_type,parent_station,stop_timezone,wheelchair_boarding
        |S1,C1,"Place Masséna",43.6975,7.2718,Z1,0,,Europe/Paris,1
        |S2,C2,Gare Thiers,43.7045,7.2619,Z1,0,STATION1,,2
        |S3,C3,Aéroport T2,43.6601,7.2054,,0,,,0
        |STATION1,,Gare de Nice,43.7046,7.2620,Z1,1,,,
        |""".stripMargin)

    // includes a >24h time, an arrival-null row, and a malformed row
    w("stop_times.txt",
      """trip_id,arrival_time,departure_time,stop_id,stop_sequence,pickup_type,drop_off_type
        |6444367-33_R_99_3304_09:09-SETP2025-33-Mercredi-36,09:09:00,09:09:30,S1,1,0,0
        |6444367-33_R_99_3304_09:09-SETP2025-33-Mercredi-36,09:20:00,09:20:00,S2,2,0,0
        |T2,,10:05:00,S1,1,0,0
        |T2,10:15:00,10:16:00,S3,2,0,0
        |T3,25:07:00,25:08:00,S2,1,0,0
        |bad-row-too-few-columns,1
        |T4,12:00:00,,S3,1,0,0
        |""".stripMargin)
  }

  /** One TripUpdates snapshot mirroring FIXTURES.md §B: duplicate
    * trip_id (first-wins), departure-only stop_time_update, absent
    * direction_id, and an entity without trip_update.
    */
  def tripUpdatesSnapshot(feedTs: Long = 1756884757L): Array[Byte] = {
    val w = new Writer
    w.message(1) { h => h.string(1, "2.0").int(2, 0).int(3, feedTs) }
    // entity 1: trip TU1 with two stop_time_updates
    w.message(2) { e =>
      e.string(1, "e1")
      e.message(3) { tu =>
        tu.message(1) { t => t.string(1, "TU1").string(5, "R1").int(6, 0) }
        tu.message(2) { s =>
          s.int(1, 1).string(4, "S1")
          s.message(2)(_.int(2, feedTs + 60))
          s.message(3)(_.int(2, feedTs + 90))
        }
        tu.message(2) { s =>
          s.int(1, 2).string(4, "S2")
          s.message(3)(_.int(2, feedTs + 300)) // departure only
        }
      }
    }
    // entity 2: duplicate TU1 header (must lose first-wins) with different route
    w.message(2) { e =>
      e.string(1, "e2")
      e.message(3) { tu =>
        tu.message(1) { t => t.string(1, "TU1").string(5, "R9").int(6, 1) }
      }
    }
    // entity 3: trip TU2, absent direction_id → silver sentinel
    w.message(2) { e =>
      e.string(1, "e3")
      e.message(3) { tu =>
        tu.message(1) { t => t.string(1, "TU2").string(5, "R2") }
        tu.message(2) { s =>
          s.int(1, 1).string(4, "S3")
          s.message(2)(_.int(2, feedTs + 120))
        }
      }
    }
    // entity 4: no trip_update (skipped by the HasField gate)
    w.message(2) { e => e.string(1, "e4") }
    w.toBytes
  }

  /** One VehiclePositions snapshot: missing position, missing trip,
    * fractional bearing, chouette-style route_id.
    */
  def vehiclePositionsSnapshot(feedTs: Long = 1756884757L): Array[Byte] = {
    val w = new Writer
    w.message(1) { h => h.string(1, "2.0").int(2, 0).int(3, feedTs) }
    w.message(2) { e =>
      e.string(1, "v1")
      e.message(4) { v =>
        v.message(1) { t =>
          t.string(1, "TU1").string(5, "chouette:Line:07759d26-x:LOC")
        }
        v.message(2) { p => p.float(1, 43.7f).float(2, 7.27f).float(3, 181.6f) }
        v.int(5, feedTs)
        v.string(7, "S1")
        v.message(8)(_.string(1, "veh-1"))
      }
    }
    // missing position
    w.message(2) { e =>
      e.string(1, "v2")
      e.message(4) { v =>
        v.message(1)(_.string(1, "TU2"))
        v.int(5, feedTs + 10)
        v.message(8)(_.string(1, "veh-2"))
      }
    }
    // missing trip
    w.message(2) { e =>
      e.string(1, "v3")
      e.message(4) { v =>
        v.message(2) { p => p.float(1, 43.66f).float(2, 7.21f) }
        v.int(5, feedTs + 20)
        v.message(8)(_.string(1, "veh-3"))
      }
    }
    w.toBytes
  }

  def writeRtSnapshots(tuDir: String, vpDir: String, stamp: String = "20250903_1432",
                       feedTs: Long = 1756884757L): Unit = {
    Landing.write(tuDir, "trip_updates", stamp, tripUpdatesSnapshot(feedTs))
    Landing.write(vpDir, "vehicle_positions", stamp, vehiclePositionsSnapshot(feedTs))
  }

  /** The long chouette-style trip_id from trips.txt/stop_times.txt. */
  val LongTrip = "6444367-33_R_99_3304_09:09-SETP2025-33-Mercredi-36"

  /** TripUpdates snapshot whose trip_ids MATCH the static fixture, so
    * the KPI delay spine joins. Observed epochs = Paris service-day
    * start + scheduled seconds + a known delay:
    *   LongTrip seq1 S1: +120   LongTrip seq2 S2: +180
    *   T2 seq1 S1: +60 (departure-only)   T2 seq2 S3: −30
    *   T3 seq1 S2 (sched 25:07:00 = 90420s): +300
    * plus a duplicate LongTrip header (first-wins) and T4 unobserved.
    */
  def tripUpdatesMatchingStatic(dayStartEpoch: Long, feedTs: Long): Array[Byte] = {
    val w = new Writer
    w.message(1) { h => h.string(1, "2.0").int(2, 0).int(3, feedTs) }
    w.message(2) { e =>
      e.string(1, "m1")
      e.message(3) { tu =>
        tu.message(1) { t => t.string(1, LongTrip).string(5, "R1").int(6, 0) }
        tu.message(2) { s =>
          s.int(1, 1).string(4, "S1")
          s.message(2)(_.int(2, dayStartEpoch + 32940 + 120))
        }
        tu.message(2) { s =>
          s.int(1, 2).string(4, "S2")
          s.message(2)(_.int(2, dayStartEpoch + 33600 + 180))
        }
      }
    }
    // duplicate LongTrip header — must lose first-wins
    w.message(2) { e =>
      e.string(1, "m1-dup")
      e.message(3)(_.message(1) { t => t.string(1, LongTrip).string(5, "R9").int(6, 1) })
    }
    w.message(2) { e =>
      e.string(1, "m2")
      e.message(3) { tu =>
        tu.message(1) { t => t.string(1, "T2").string(5, "R1").int(6, 1) }
        tu.message(2) { s => // departure-only observation
          s.int(1, 1).string(4, "S1")
          s.message(3)(_.int(2, dayStartEpoch + 36300 + 60))
        }
        tu.message(2) { s => // early arrival
          s.int(1, 2).string(4, "S3")
          s.message(2)(_.int(2, dayStartEpoch + 36900 - 30))
        }
      }
    }
    w.message(2) { e =>
      e.string(1, "m3")
      e.message(3) { tu =>
        tu.message(1) { t => t.string(1, "T3").string(5, "R2") } // no direction → sentinel
        tu.message(2) { s =>
          s.int(1, 1).string(4, "S2")
          s.message(2)(_.int(2, dayStartEpoch + 90420 + 300))
        }
      }
    }
    w.toBytes
  }
}
