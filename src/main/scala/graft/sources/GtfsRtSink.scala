package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.gtfs.Landing
import graft.gtfs.ProtoWire.Writer

/** Write half of the gtfsrt connector: a landing-dir snapshot sink —
  * `df.write.format("gtfsrt").option("kind", …).option("stamp",
  * …).mode("append").save(dir)` — closing the connector loop (the
  * reference's poller WRITES minute-stamped snapshot files the
  * downstream DAG reads; gtfs_rt_minutely.py:166-176). Options: `kind`,
  * `stamp` (batch; default: now), `stampBase` (streaming; default:
  * `stamp`, else now), `feedTs` (feed header time; default: the
  * newest vehicle timestamp). File names, stamps and the listing are
  * the landing-dir contract owned by `graft.gtfs.Landing`.
  *
  * Contract (what the read side's offset watermark relies on):
  *  - every commit lands `Landing.fileName` files whose basenames
  *    sort STRICTLY AFTER everything already in the dir —
  *    commit REFUSES a stamp ≤ the current maximum (the
  *    monotonic-stamp contract; an out-of-order landing would be
  *    silently skipped by any stream already past that watermark);
  *  - tasks write invisible `*.tmp` files (readers list `*.pb` only)
  *    and the driver renames on commit — a failed/speculative task
  *    never leaves a half-written snapshot visible;
  *  - one file per non-empty partition: a snapshot is one polled
  *    feed (bounded by the poll cadence), so rows-per-file is small
  *    by nature — this is a snapshot emitter, not a bulk exporter.
  *
  * Round-trip fidelity: lat/lon/bearing are FLOAT on the wire (the
  * GTFS-RT schema), so doubles narrow to float on write; bearing is
  * written as its rounded long (the decode applies the reference's
  * float→round mapping, gtfs_rt_minutely.py:172). Null trip_ids
  * can't be represented for trip_updates / stop_time_updates rows
  * (the decoder requires the trip header) — such rows are dropped,
  * matching the decode-side HasField gate.
  */
private[sources] class GtfsRtWrite(kind: String, path: String,
                                   schema: StructType,
                                   options: CaseInsensitiveStringMap)
    extends Write {
  private def feedTs = Option(options.get("feedTs")).map(_.toLong).getOrElse(0L)

  /** Option `key` as a stamp; absent, `fallback` — by default the poll
    * minute now, as the reference stamps its snapshots.
    */
  private def stampOption(key: String, fallback: => String = Landing.stampNow()): String =
    Landing.requireStamp(key, Option(options.get(key)).getOrElse(fallback))

  override def toBatch: BatchWrite =
    new GtfsRtBatchWrite(kind, path, schema, stampOption("stamp"), feedTs)

  /** Streaming form: epoch n lands one snapshot set stamped
    * `Landing.stepStamp(stampBase, n)` — the reference's poll cadence
    * (gtfs_rt_minutely.py:262) — so a continuous query emits exactly
    * the minute-stamped landing-dir layout the read side consumes.
    * Epoch retries are idempotent: a commit that finds its own stamp
    * already landed treats the previous attempt as the winner and
    * discards its temps (restart recovery re-runs the last epoch;
    * refusing it would wedge the query, double-landing would
    * duplicate rows downstream).
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new GtfsRtStreamingWrite(kind, path, schema, stampOption("stampBase", stampOption("stamp")), feedTs)
}

private[sources] class GtfsRtStreamingWrite(kind: String, path: String,
                                            schema: StructType,
                                            stampBase: String, feedTs: Long)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def batchFor(epochId: Long) =
    new GtfsRtBatchWrite(kind, path, schema, Landing.stepStamp(stampBase, epochId), feedTs)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GtfsRtWriterFactory(kind, path, schema, feedTs)

  /** One listing serves both the epoch-retry check and the
    * monotonic-stamp check.
    */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val write = batchFor(epochId)
    val landed = Landing.list(path)
    // epoch retry: the stamp this epoch owns is already landed
    if (landed.exists(_.name.startsWith(s"${kind}_${write.stamp}"))) write.abort(messages)
    else write.land(messages, landed)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    batchFor(epochId).abort(messages)
}

private[sources] case class GtfsRtCommitMessage(tmpPath: String, rows: Long)
    extends WriterCommitMessage

private[sources] class GtfsRtBatchWrite(kind: String, path: String,
                                        schema: StructType, val stamp: String,
                                        feedTs: Long)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GtfsRtWriterFactory(kind, path, schema, feedTs)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    land(messages, Landing.list(path))

  /** Commit against `landed`, the dir's current `Landing.list`. */
  private[sources] def land(messages: Array[WriterCommitMessage],
                            landed: => Seq[Landing.Snapshot]): Unit = {
    val fs = new Path(path).getFileSystem(new Configuration())
    val parts = messages.collect {
      case GtfsRtCommitMessage(tmp, rows) if rows > 0 => tmp
    }
    try {
      // monotonic-stamp contract: the smallest name this commit will
      // land must sort after EVERYTHING present, or a stream already
      // past that watermark would silently skip the new files
      val newNames =
        if (parts.length <= 1) parts.map(_ => Landing.fileName(kind, stamp)).toSeq
        else parts.indices.map(i => Landing.fileName(kind, stamp, Some(i)))
      // keys lead with the basename, so the last key holds the max name
      val newest = landed.lastOption.map(_.name)
      if (newNames.nonEmpty && newest.exists(newNames.min <= _))
        throw new IllegalStateException(
          s"gtfsrt: stamp $stamp does not land after the current " +
            s"watermark ${newest.get} — snapshots must arrive in " +
            "ascending name order (monotonic-stamp contract)")
      parts.zip(newNames).foreach { case (tmp, name) =>
        if (!fs.rename(new Path(tmp), new Path(path, name)))
          throw new java.io.IOException(s"gtfsrt: rename $tmp -> $name failed")
      }
    } finally abort(messages) // drop temps of empty partitions (and of a refused commit)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(new Configuration())
    messages.collect { case GtfsRtCommitMessage(tmp, _) => tmp }.foreach { tmp =>
      val p = new Path(tmp)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }
}

/** One factory for batch and streaming writes: an epoch changes nothing per task. */
private[sources] case class GtfsRtWriterFactory(kind: String, path: String,
                                                schema: StructType, feedTs: Long)
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GtfsRtDataWriter(kind, path, schema, feedTs)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** Buffers the partition's rows, encodes ONE FeedMessage on commit,
  * and writes it as an invisible `.tmp` file for the driver to
  * rename. Field numbers mirror the decode side
  * (`graft.gtfs.ProtoWire` / `RtDecode`; semantics cited from
  * gtfs_rt_minutely.py:40-163).
  */
private[sources] class GtfsRtDataWriter(kind: String, path: String,
                                        schema: StructType, feedTs: Long)
    extends DataWriter[InternalRow] {

  private def idx(name: String): Int = schema.fieldIndex(name)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]

  override def write(row: InternalRow): Unit = {
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      vals(i) =
        if (row.isNullAt(i)) null
        else schema.fields(i).dataType match {
          case org.apache.spark.sql.types.StringType => row.getUTF8String(i).toString
          case org.apache.spark.sql.types.LongType => row.getLong(i)
          case org.apache.spark.sql.types.DoubleType => row.getDouble(i)
          case dt => throw new IllegalStateException(s"gtfsrt sink: $dt")
        }
      i += 1
    }
    buf += vals
  }

  override def commit(): WriterCommitMessage = {
    val w = new Writer
    // header: gtfs_realtime_version, FULL_DATASET, feed timestamp
    val ts = if (feedTs > 0) feedTs else kind match {
      case GtfsRtSource.VehiclePositions =>
        val tsI = idx("timestamp_epoch")
        buf.iterator.map(v => Option(v(tsI)).fold(0L)(_.asInstanceOf[Long])).maxOption.getOrElse(0L)
      case _ => 0L
    }
    w.message(1)(h => h.string(1, "2.0").int(2, 0).int(3, ts))
    var n = 0
    // one FeedEntity (field 2) per landed row, ids w1, w2, … in row order
    def entity(body: Writer => Unit): Unit = {
      n += 1
      w.message(2) { e =>
        e.string(1, s"w$n")
        body(e)
      }
    }
    kind match {
      case GtfsRtSource.VehiclePositions =>
        val (tI, rI, vI, laI, loI, bI, sI, tsI) =
          (idx("trip_id"), idx("route_id"), idx("vehicle_id"), idx("latitude"),
            idx("longitude"), idx("bearing"), idx("stop_id"), idx("timestamp_epoch"))
        buf.foreach { v =>
          entity { e =>
            e.message(4) { veh =>
              if (v(tI) != null || v(rI) != null) veh.message(1) { t =>
                if (v(tI) != null) t.string(1, v(tI).asInstanceOf[String])
                if (v(rI) != null) t.string(5, v(rI).asInstanceOf[String])
              }
              if (v(laI) != null || v(loI) != null || v(bI) != null)
                veh.message(2) { p =>
                  if (v(laI) != null) p.float(1, v(laI).asInstanceOf[Double].toFloat)
                  if (v(loI) != null) p.float(2, v(loI).asInstanceOf[Double].toFloat)
                  if (v(bI) != null) p.float(3, v(bI).asInstanceOf[Long].toFloat)
                }
              if (v(tsI) != null) veh.int(5, v(tsI).asInstanceOf[Long])
              if (v(sI) != null) veh.string(7, v(sI).asInstanceOf[String])
              if (v(vI) != null) veh.message(8)(_.string(1, v(vI).asInstanceOf[String]))
            }
          }
        }
      case GtfsRtSource.TripUpdates =>
        val (tI, rI, dI) = (idx("trip_id"), idx("route_id"), idx("direction_id"))
        buf.foreach { v =>
          if (v(tI) != null) { // decoder requires the trip header
            entity { e =>
              e.message(3)(_.message(1) { t =>
                t.string(1, v(tI).asInstanceOf[String])
                if (v(rI) != null) t.string(5, v(rI).asInstanceOf[String])
                if (v(dI) != null) t.int(6, v(dI).asInstanceOf[Long])
              })
            }
          }
        }
      case GtfsRtSource.StopTimeUpdates =>
        val (tI, qI, sI, aI, dI) = (idx("trip_id"), idx("stop_sequence"),
          idx("stop_id"), idx("arrival_time"), idx("departure_time"))
        buf.foreach { v =>
          if (v(tI) != null) {
            entity { e =>
              e.message(3) { tu =>
                tu.message(1)(_.string(1, v(tI).asInstanceOf[String]))
                tu.message(2) { s =>
                  if (v(qI) != null) s.int(1, v(qI).asInstanceOf[Long])
                  if (v(aI) != null) s.message(2)(_.int(2, v(aI).asInstanceOf[Long]))
                  if (v(dI) != null) s.message(3)(_.int(2, v(dI).asInstanceOf[Long]))
                  if (v(sI) != null) s.string(4, v(sI).asInstanceOf[String])
                }
              }
            }
          }
        }
      case other => throw new IllegalStateException(s"gtfsrt sink: kind $other")
    }
    val fs = new Path(path).getFileSystem(new Configuration())
    fs.mkdirs(new Path(path))
    val tmp = new Path(path, s"_gtfsrt_${UUID.randomUUID()}.tmp")
    if (n > 0) {
      val out = fs.create(tmp, false)
      try out.write(w.toBytes) finally out.close()
    }
    GtfsRtCommitMessage(tmp.toString, n.toLong)
  }

  override def abort(): Unit = ()
  override def close(): Unit = buf.clear()
}
