package graft.gtfs

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneId}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The landing-dir contract every GTFS-RT reader and writer shares: a
  * (possibly nested) dir of `<kind>_<stamp>[_pNN].pb` snapshot files
  * whose stamp is the Paris poll minute (gtfs_rt_minutely.py:29-31),
  * so name order is poll order — what the `gtfsrt` source's offset
  * watermark and the sink's monotonic-stamp check rest on.
  */
object Landing {
  val Suffix = ".pb"
  val Glob: String = "*" + Suffix
  val StampPattern = "yyyyMMdd_HHmm" // java.time and Spark read it alike
  val StampFmt: DateTimeFormatter = DateTimeFormatter.ofPattern(StampPattern)
  /** A name's stamp; the `_pNN` part suffix keeps multi-part sink commits prunable. */
  val StampRe: scala.util.matching.Regex = """(\d{8}_\d{4})(?:_p\d+)?\.pb$""".r
  val Zone: ZoneId = ZoneId.of("Europe/Paris")
  /** Stamp pruning pads a pushed range by this: a stamp is the poll minute, not the feed time. */
  val StampSlackMinutes = 10L
  /** A streaming sink lands epoch n at base + n × this (the poll cadence, gtfs_rt_minutely.py:262). */
  val StampStepMinutes = 2L

  def stamp(ts: LocalDateTime): String = ts.format(StampFmt)
  def stampNow(): String = stamp(LocalDateTime.now(Zone))
  def stepStamp(base: String, steps: Long): String =
    stamp(LocalDateTime.parse(base, StampFmt).plusMinutes(steps * StampStepMinutes))
  def requireStamp(what: String, value: String): String = {
    require(value.matches("""\d{8}_\d{4}"""), s"gtfsrt: $what '$value' must be $StampPattern")
    value
  }
  def fileName(prefix: String, stamp: String, part: Option[Int] = None): String =
    s"${prefix}_$stamp${part.fold("")(i => f"_p$i%02d")}$Suffix"

  /** Land `bytes` as the `prefix` snapshot stamped `stamp` in the local dir `dir`. */
  def write(dir: String, prefix: String, stamp: String, bytes: Array[Byte]): java.nio.file.Path = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, fileName(prefix, stamp)), bytes)
  }

  /** Epoch seconds of a name's stamp in [[Zone]]; None if unstamped. */
  def stampEpoch(name: String): Option[Long] =
    StampRe.findFirstMatchIn(name).flatMap { m =>
      try Some(LocalDateTime.parse(m.group(1), StampFmt).atZone(Zone).toEpochSecond)
      catch { case _: Exception => None }
    }

  final case class Snapshot(key: String, path: Path) { def name: String = path.getName }

  /** Every snapshot under `dir`, recursively, sorted by key; a missing
    * `dir` throws unless `missingOk`.
    *
    * Keys are `<basename>\t<root-relative-path>`: the recursive
    * listing admits nested subdirectories, so a bare-name key would
    * collide identically-named files across subdirs, while a
    * relative-PATH key would order `day10/…` before `day9/…` and
    * silently drop every later-stamped file landing in a
    * lexicographically-earlier subdir. Leading with the basename keeps
    * the order chronological by name stamp regardless of subdirectory;
    * the relative-path suffix keeps same-named files in different
    * subdirs distinct. Tab sorts before every stamp-name character and
    * keeps the key single-line for a checkpoint log. Flat landing dirs
    * — the reference layout — give `<name>\t<name>`, which sorts
    * exactly like bare names.
    */
  def list(dir: String, missingOk: Boolean = false): Seq[Snapshot] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(new Configuration())
    if (missingOk && !fs.exists(root)) return Seq.empty
    val rootPath = fs.getFileStatus(root).getPath.toUri.getPath.stripSuffix("/")
    val it = fs.listFiles(root, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(Suffix)) {
        val rel = st.getPath.toUri.getPath.stripPrefix(rootPath + "/")
        out += Snapshot(s"${st.getPath.getName}\t$rel", st.getPath)
      }
    }
    out.sortBy(_.key).toSeq
  }
}
