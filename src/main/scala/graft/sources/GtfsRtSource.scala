package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.gtfs.{Landing, RtDecode, RtFeedMessage, Schemas}

/** DataSourceV2 connector for GTFS-RT protobuf snapshot files —
  * `spark.read.format("gtfsrt").option("kind", …).load(dir)` — the
  * connector form of the S3 decode path (SURVEY §2.1), completing the
  * library's extension surface (expression / UDAF / UDTF / plan +
  * strategy + rule / connector).
  *
  * Scale design:
  *  - one input partition per snapshot file: thousands of polled
  *    2-minute snapshots parallelize across executors with no shuffle,
  *    and a file is the natural atomicity unit (T4 snapshot semantics);
  *  - COLUMN PRUNING pushed into the source (`SupportsPushDownRequiredColumns`):
  *    a `select(trip_id)` materializes one field per entity instead of
  *    eight — visible in the scan's description;
  *  - FILTER PUSHDOWN (`SupportsPushDownFilters`): comparison and
  *    null-check predicates evaluate during decode, before any row
  *    reaches Spark — exact, so Catalyst drops its own copy of the
  *    filter (visible in the scan description);
  *  - SNAPSHOT-FILE PRUNING (opt-in, `option("fileStampPrune","true")`):
  *    a pushed `timestamp_epoch` range skips whole minute-stamped
  *    snapshot files by their name stamp — the custom-source analog of
  *    partition pruning. Opt-in because it relies on the WRITER
  *    contract (stamp ≈ feed header time, `StaticFetch` F10 stamping);
  *    the window is padded by `Landing.StampSlackMinutes` and stamps
  *    are read in `Landing.Zone`;
  *  - corrupt snapshots decode to zero rows via `parseFeedSafe`
  *    (ON_ERROR='CONTINUE' parity), never a task failure.
  *
  * Options: `kind` (vehicle_positions | trip_updates |
  * stop_time_updates), `fileStampPrune` (batch), `maxFilesPerTrigger`
  * (streaming). File naming, stamps and the recursive listing are the
  * landing-dir contract owned by `graft.gtfs.Landing`; wire decode
  * itself is `graft.gtfs.ProtoWire` — cites gtfs_rt_minutely.py:40-163
  * for field semantics.
  */
class GtfsRtSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "gtfsrt"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GtfsRtSource.schemaFor(GtfsRtSource.kindOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new GtfsRtTable(GtfsRtSource.kindOf(opts), opts.get("path"), schema)
  }
}

object GtfsRtSource {
  final val VehiclePositions = "vehicle_positions"
  final val TripUpdates = "trip_updates"
  final val StopTimeUpdates = "stop_time_updates"

  private[sources] def kindOf(options: CaseInsensitiveStringMap): String =
    options.getOrDefault("kind", VehiclePositions) match {
      case k @ (VehiclePositions | TripUpdates | StopTimeUpdates) => k
      case other => throw new IllegalArgumentException(
        s"gtfsrt: unknown kind '$other' (expected $VehiclePositions, " +
          s"$TripUpdates or $StopTimeUpdates)")
    }

  /** A kind's rows are its bronze table's, minus the insert_date stamp. */
  private[sources] def schemaFor(kind: String): StructType =
    Schemas.csvSchema(Schemas.bronze(kind match {
      case VehiclePositions => "vehicle_positions_raw"
      case TripUpdates => "trip_updates_raw"
      case StopTimeUpdates => "trip_stop_times"
    }))

  /** Full-width catalyst values for one decoded feed, in schemaFor
    * field order. Strings become UTF8String; Options unwrap to null.
    */
  private[sources] def catalystRows(kind: String, feed: RtFeedMessage): Seq[Array[Any]] = {
    def s(v: String): Any = if (v == null) null else UTF8String.fromString(v)
    def o(v: Option[Any]): Any = v.orNull
    kind match {
      case VehiclePositions => RtDecode.vehiclePositions(feed).map { r =>
        Array[Any](s(r.trip_id), s(r.route_id), s(r.vehicle_id),
          o(r.latitude), o(r.longitude), o(r.bearing), s(r.stop_id),
          o(r.timestamp_epoch))
      }
      case TripUpdates => RtDecode.tripUpdates(feed).map { r =>
        Array[Any](s(r.trip_id), s(r.route_id), o(r.direction_id))
      }
      case StopTimeUpdates => RtDecode.tripStopTimes(feed).map { r =>
        Array[Any](s(r.trip_id), o(r.stop_sequence), s(r.stop_id),
          o(r.arrival_time), o(r.departure_time))
      }
    }
  }
}

private[sources] class GtfsRtTable(kind: String, path: String, schema: StructType)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"gtfsrt.$kind($path)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GtfsRtScanBuilder(kind, path, schema, options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new GtfsRtWrite(kind, path, info.schema(), info.options())
  }
}

private[sources] class GtfsRtScanBuilder(kind: String, path: String,
                                         full: StructType,
                                         options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept the comparison/null-check shapes the decode loop can
    * evaluate exactly; everything else stays with Spark. Accepted
    * filters are applied by the source EXACTLY, so they are not
    * returned as post-scan residuals — which is why comparisons are
    * accepted ONLY on string/long/double columns: those are the types
    * the reader compares with Spark-identical semantics. Any other
    * decoded type would fall into a toString comparison that silently
    * diverges from Spark's, with no residual to catch it, so such
    * filters stay Spark-side.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def comparable(name: String): Boolean =
      full.fields.find(_.name == name).map(_.dataType).exists {
        case org.apache.spark.sql.types.StringType => true
        case org.apache.spark.sql.types.LongType => true
        case org.apache.spark.sql.types.DoubleType => true
        case _ => false
      }
    val (ok, rest) = filters.partition {
      case EqualTo(a, _) => comparable(a)
      case GreaterThan(a, _) => comparable(a)
      case GreaterThanOrEqual(a, _) => comparable(a)
      case LessThan(a, _) => comparable(a)
      case LessThanOrEqual(a, _) => comparable(a)
      case IsNotNull(a) => full.fieldNames.contains(a)
      case _ => false
    }
    pushed = ok
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new GtfsRtScan(kind, path, full, required,
    pushed,
    options.getBoolean("fileStampPrune", false),
    options.getInt("maxFilesPerTrigger", 0))
}

private[sources] class GtfsRtScan(kind: String, path: String,
                                  full: StructType, required: StructType,
                                  pushed: Array[Filter],
                                  stampPrune: Boolean,
                                  maxFilesPerTrigger: Int = 0)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"gtfsrt kind=$kind path=$path pruned=[${required.fieldNames.mkString(",")}]" +
      s" filters=[${pushed.mkString(",")}]" +
      (if (stampPrune) s" fileStampPrune(slack=${Landing.StampSlackMinutes}m)" else "")

  /** Whether a file stamped at epoch second `s` may hold rows in the
    * pushed timestamp_epoch range, widened by the slack on each side
    * — the file-level prune test. Stamps are real epochs, so `s ±
    * slack` cannot overflow.
    */
  private lazy val stampMayMatch: Long => Boolean = {
    val slack = Landing.StampSlackMinutes * 60
    def num(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case _ => None
    }
    val bounds: Array[Long => Boolean] = pushed.flatMap {
      case GreaterThan("timestamp_epoch", v) => num(v).map(x => (s: Long) => s + slack > x)
      case GreaterThanOrEqual("timestamp_epoch", v) => num(v).map(x => (s: Long) => s + slack >= x)
      case LessThan("timestamp_epoch", v) => num(v).map(x => (s: Long) => s - slack < x)
      case LessThanOrEqual("timestamp_epoch", v) => num(v).map(x => (s: Long) => s - slack <= x)
      case EqualTo("timestamp_epoch", v) => num(v).map(x => (s: Long) => s + slack >= x && s - slack <= x)
      case _ => None
    }
    s => bounds.forall(_(s))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val files = Landing.list(path)
    val kept =
      if (!stampPrune) files
      else files.filter(f => Landing.stampEpoch(f.name).forall(stampMayMatch)) // unstamped: never pruned
    kept.map(f => GtfsRtPartition(f.path.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GtfsRtReaderFactory(kind, full, required, pushed)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GtfsRtMicroBatchStream(path, createReaderFactory(), maxFilesPerTrigger)
}

/** Streaming form of the snapshot scan: the offset is the largest
  * processed `Landing.list` key, which leads with the file NAME.
  * Minute-stamped snapshot names (F10 stamping) sort chronologically,
  * so each micro-batch is exactly the files that arrived since the
  * checkpointed watermark — exactly-once across restarts with an O(1)
  * offset (no seen-files log to compact).
  * CONTRACT (documented, writer-enforced by `StaticFetch`): the
  * landing dir is append-only and stamps are monotonic; a file
  * back-dated behind the watermark is never picked up (the batch
  * scan remains the backfill path).
  */
private[sources] class GtfsRtMicroBatchStream(path: String,
                                              readerFactory: PartitionReaderFactory,
                                              maxFilesPerTrigger: Int = 0)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow contract: pin the end offset ONCE at query
  // start, so the run drains exactly the files present then and
  // terminates even while new snapshots keep landing
  @volatile private var availableNowTarget: Option[String] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(listNames().lastOption.getOrElse(""))
  // `maxFilesPerTrigger` caps each micro-batch's admission (the
  // backfill throttle: a relay restarted against a deep landing dir
  // drains in bounded batches instead of one mega-batch — and each
  // batch is a checkpoint commit, so a mid-drain kill loses at most
  // one batch of work). 0 = unlimited (one AvailableNow batch).
  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger > 0) ReadLimit.maxFiles(maxFilesPerTrigger)
    else ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startKey = start.asInstanceOf[GtfsRtOffset].lastName
    val names = listNames()
    val target = availableNowTarget.getOrElse(names.lastOption.getOrElse(""))
    val pending = names.filter(n => n > startKey && n <= target)
    val admitted = limit match {
      case m: ReadMaxFiles => pending.take(m.maxFiles())
      case _ => pending
    }
    GtfsRtOffset(if (admitted.nonEmpty) admitted.last else startKey)
  }
  override def reportLatestOffset(): Offset =
    GtfsRtOffset(listNames().lastOption.getOrElse(""))

  /** Offsets are `Landing.list` keys; the dir may not exist yet. */
  private def listing(): Seq[Landing.Snapshot] = Landing.list(path, missingOk = true)
  private def listNames(): Seq[String] = listing().map(_.key)

  override def initialOffset(): Offset = GtfsRtOffset("")
  /** Checkpoints written before the key format grew its
    * `\t<relpath>` suffix store a bare basename; left as-is, the
    * same file's new key `name\tname` compares GREATER than the
    * stored `name`, and the already-processed latest snapshot would
    * be re-read once on restart. Legacy keys could only come from
    * flat landing dirs (nested subdirs postdate the format change),
    * where the new key is exactly `name\tname` — so normalizing a
    * tab-less key to that form makes old checkpoints restart clean.
    */
  override def deserializeOffset(json: String): Offset =
    if (json.nonEmpty && !json.contains('\t')) GtfsRtOffset(s"$json\t$json")
    else GtfsRtOffset(json)
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GtfsRtOffset].lastName
    val hi = end.asInstanceOf[GtfsRtOffset].lastName
    listing()
      .filter(s => s.key > lo && s.key <= hi)
      .map(s => GtfsRtPartition(s.path.toString): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

/** O(1) streaming offset: the last processed snapshot file name. */
private[sources] case class GtfsRtOffset(lastName: String) extends Offset {
  override def json(): String = lastName
}

private[sources] case class GtfsRtPartition(file: String) extends InputPartition

private[sources] class GtfsRtReaderFactory(kind: String, full: StructType,
                                           required: StructType,
                                           pushed: Array[Filter])
    extends PartitionReaderFactory {
  // indices of the pruned fields within the full row
  private val fieldIdx = required.fieldNames.map(full.fieldIndex)

  /** Compile the pushed filters into one predicate over the
    * full-width decoded row. Strings compare as UTF8String (the
    * decode emission type); integral types widen to Long. NULL fails
    * every comparison (SQL semantics).
    */
  private def predicate: Array[Any] => Boolean = {
    def cmp(colIdx: Int, v: Any)(op: Int => Boolean): Array[Any] => Boolean = {
      row => row(colIdx) match {
        case null => false
        case s: UTF8String => op(s.compareTo(UTF8String.fromString(v.toString)))
        case l: Long => op(java.lang.Long.compare(l, v.asInstanceOf[Number].longValue()))
        case d: Double => op(java.lang.Double.compare(d, v.asInstanceOf[Number].doubleValue()))
        case other => op(other.toString.compareTo(v.toString))
      }
    }
    val fns = pushed.map {
      case EqualTo(a, v) => cmp(full.fieldIndex(a), v)(_ == 0)
      case GreaterThan(a, v) => cmp(full.fieldIndex(a), v)(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(full.fieldIndex(a), v)(_ >= 0)
      case LessThan(a, v) => cmp(full.fieldIndex(a), v)(_ < 0)
      case LessThanOrEqual(a, v) => cmp(full.fieldIndex(a), v)(_ <= 0)
      case IsNotNull(a) =>
        val i = full.fieldIndex(a)
        (row: Array[Any]) => row(i) != null
      case f => throw new IllegalStateException(s"unpushable filter $f")
    }
    row => fns.forall(_(row))
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[GtfsRtPartition].file
    val pred = predicate
    new PartitionReader[InternalRow] {
      private val rows: Iterator[Array[Any]] = {
        val p = new Path(file)
        val fs = p.getFileSystem(new Configuration())
        val in = fs.open(p)
        val bytes =
          try {
            val len = fs.getFileStatus(p).getLen.toInt
            val buf = new Array[Byte](len)
            in.readFully(0, buf)
            buf
          } finally in.close()
        // corrupt snapshot → zero rows, not a task failure
        RtDecode.parseFeedSafe(bytes).toSeq
          .flatMap(GtfsRtSource.catalystRows(kind, _))
          .iterator.filter(pred)
      }
      private var current: Array[Any] = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow =
        new GenericInternalRow(fieldIdx.map(current(_)))
      override def close(): Unit = ()
    }
  }
}
