package graft.gtfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Upstream-readiness gating (T6) and landing-dir introspection (S7)
  * — the engine-side equivalents of the reference's ExternalTaskSensor
  * (gtfs_rt_minutely.py:270-280, gtfs_silver.py:227-237: poke 60 s,
  * timeout 1 h, reschedule mode) and `LIST @stage` debug task
  * (gtfs_rt_minutely.py:335-340).
  */
object Sensors {

  /** Block until `path` exists (Hadoop FS — works on HDFS/S3/local),
    * polling every `pokeIntervalMs`, giving up after `timeoutMs`.
    * Returns true when the path appeared — callers gate the RT/silver
    * jobs on the day's static load exactly like the reference's
    * sensor chain.
    */
  def waitForPath(spark: SparkSession, path: String,
                  pokeIntervalMs: Long = 60000L, timeoutMs: Long = 3600000L): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var found = BronzeIngest.pathExists(spark, path)
    while (!found && System.nanoTime() < deadline) {
      Thread.sleep(math.min(pokeIntervalMs, 1 + (deadline - System.nanoTime()) / 1000000L))
      found = BronzeIngest.pathExists(spark, path)
    }
    found
  }

  /** Gate on the day's static bronze load: all four static tables
    * present (the reference's wait_static_daily sensor semantics).
    */
  def waitForStaticBronze(spark: SparkSession, warehouseDir: String,
                          pokeIntervalMs: Long = 60000L, timeoutMs: Long = 3600000L): Boolean =
    Schemas.staticFiles.keys.forall(t =>
      waitForPath(spark, s"$warehouseDir/bronze/$t", pokeIntervalMs, timeoutMs))

  /** S8/A3/P7 — the check_gtfs_static.py equivalent
    * (scripts/check_gtfs_static.py:4-20): require the four GTFS files,
    * read each with header only (no schema, no inference — every
    * column lands StringType, the `dtype=str` parity), and report
    * (file, n_rows, n_cols) shapes.
    */
  def checkGtfsStatic(spark: SparkSession, staticDir: String): Seq[(String, Long, Int)] =
    Schemas.staticFiles.values.toSeq.map { f =>
      val p = s"$staticDir/$f"
      require(BronzeIngest.pathExists(spark, p), s"missing required GTFS file: $p")
      val df = BronzeIngest.readCsvAllString(spark, p)
      require(df.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.StringType), s"$f: all-string read expected")
      (f, df.count(), df.columns.length)
    }

  /** `LIST @stage` equivalent: file metadata of a landing dir. Reads
    * only the binaryFile source's metadata columns — column pruning
    * keeps the content bytes unread.
    */
  def listLanding(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("length"), col("modificationTime"))
      .orderBy(col("path"))
}
