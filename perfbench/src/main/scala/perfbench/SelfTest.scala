package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import graft.gtfs.{GtfsRtProto, RtDecode}

/** The benchmark's own tests.
  *
  *   perfbench.SelfTest --work DIR
  *
  * 1. The generator is deterministic: the same seed gives
  *    byte-identical snapshots and static files, another seed differs.
  * 2. The program decodes generated snapshots into exactly the rows the
  *    generator says they hold.
  * 3. Every check can fail: each workload runs once with a planted
  *    input fault (a dropped snapshot, dropped static rows, a late row
  *    before the no-op refresh), and every check that ran must have
  *    failed at least once, and the run must report itself incorrect.
  *
  * Prints one `ok` / `not ok` line per test; exits 1 if any failed.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Boolean): Unit = {
    val ok = try body catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        println(s"  ${e.getClass.getName}: ${e.getMessage}"); false
    }
    if (!ok) failures += 1
    println(s"${if (ok) "ok" else "not ok"} - $name")
  }

  private def digest(g: Gen, snaps: Range): String = {
    val md = MessageDigest.getInstance("SHA-256")
    g.staticFiles().foreach { case (n, body) => md.update(n.getBytes); md.update(body.getBytes) }
    snaps.foreach { k => val s = g.snapshot(k); md.update(s.tripUpdates); md.update(s.vehiclePositions) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv.sliding(2).collectFirst { case Array("--work", d) => d }
      .getOrElse(throw new IllegalArgumentException("missing --work"))).toAbsolutePath
    Workloads.deleteTree(work)
    Files.createDirectories(work)

    test("same seed gives byte-identical inputs") {
      digest(new Gen(7), 0 until 4) == digest(new Gen(7), 0 until 4)
    }
    test("snapshot k does not depend on generation order") {
      val a = new Gen(7); val b = new Gen(7)
      b.snapshot(9)
      a.snapshot(3).tripUpdates.sameElements(b.snapshot(3).tripUpdates)
    }
    test("another seed gives different snapshots and schedule") {
      val a = new Gen(7); val b = new Gen(8)
      !a.snapshot(0).tripUpdates.sameElements(b.snapshot(0).tripUpdates) &&
        !a.snapshot(0).vehiclePositions.sameElements(b.snapshot(0).vehiclePositions) &&
        a.staticFiles() != b.staticFiles()
    }
    test("the program decodes a generated snapshot into the expected rows") {
      val s = new Gen(7).snapshot(5)
      val tu = GtfsRtProto.parseFeed(s.tripUpdates)
      val vp = GtfsRtProto.parseFeed(s.vehiclePositions)
      val stu = RtDecode.tripStopTimes(tu)
      RtDecode.tripUpdates(tu).size == s.headerRows &&
        RtDecode.vehiclePositions(vp).size == s.vehicleRows &&
        stu.map(r => (r.trip_id, r.stop_sequence.get.toInt, r.stop_id, r.arrival_time.orElse(r.departure_time).get)) ==
          s.obs.map(o => (o.tripId, o.seq, o.stopId, o.obsEpoch))
    }

    val spark = Main.session(Main.Args("rt_cycle", 1, 0, trace = true, work, 2, fault = true, setups = 1))
    try {
      for (w <- Main.WorkloadNames) {
        val args = Main.Args(w, 3, 0, trace = true, work.resolve(w), 2, fault = true, setups = 1)
        val o = Main.run(spark, args)
        val unfailed = o.checker.ran -- o.checker.failed
        test(s"$w: a planted fault makes the run incorrect") { !o.correct && o.failed > 0 }
        test(s"$w: every check fails on the planted fault (${o.checker.ran.size} checks)") {
          if (unfailed.nonEmpty) println(s"  never failed: ${unfailed.mkString(", ")}")
          o.checker.ran.nonEmpty && unfailed.isEmpty
        }
      }
      val clean = Main.run(spark, Main.Args("rt_cycle", 3, 0, trace = true, work.resolve("clean"), 2,
        fault = false, setups = 1))
      test("without a fault every check passes") {
        clean.checker.errors.foreach(e => println(s"  $e"))
        clean.correct && clean.failed == 0 && clean.checker.failed.isEmpty
      }
    } finally spark.stop()
    Workloads.deleteTree(work)
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
