package graft.gtfs

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** E1 steps 1-2: fetch the static GTFS ZIP and extract the .txt files
  * (S1/S2 — dags/gtfs_static_daily.py:21-41). Driver-side by design:
  * one small archive per day is not distributed work; the distributed
  * part starts at BronzeIngest.loadStatic over the extracted files.
  */
object StaticFetch {

  /** Fetch a URL's bytes. http(s) goes through java.net.http with the
    * reference's 30 s timeout (gtfs_static_daily.py:28); file: URLs
    * (tests, pre-staged archives) read directly.
    */
  def fetchUrl(url: String, timeoutSeconds: Long = 30L): Array[Byte] = {
    val uri = java.net.URI.create(url)
    uri.getScheme match {
      case "http" | "https" =>
        val client = java.net.http.HttpClient.newBuilder()
          .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds))
          .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
          .build()
        val req = java.net.http.HttpRequest.newBuilder(uri)
          .timeout(java.time.Duration.ofSeconds(timeoutSeconds))
          .GET().build()
        val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        require(resp.statusCode() / 100 == 2, s"GET $url -> HTTP ${resp.statusCode()}")
        resp.body()
      case "file" => Files.readAllBytes(Paths.get(uri))
      case other => throw new IllegalArgumentException(s"unsupported scheme: $other")
    }
  }

  /** Extract every entry of a ZIP into destDir (flat, like the
    * reference's extractall into data/static). Rejects entries that
    * would escape destDir (zip-slip). Returns the extracted names.
    */
  def extractZip(zipPath: Path, destDir: Path): Seq[String] = {
    Files.createDirectories(destDir)
    val zf = new java.util.zip.ZipFile(zipPath.toFile)
    try {
      val entries = scala.jdk.CollectionConverters.EnumerationHasAsScala(zf.entries()).asScala.toSeq
      entries.filterNot(_.isDirectory).map { e =>
        val target = destDir.resolve(e.getName).normalize()
        require(target.startsWith(destDir.normalize()), s"zip entry escapes dest: ${e.getName}")
        Files.createDirectories(target.getParent)
        val in = zf.getInputStream(e)
        try Files.copy(in, target, StandardCopyOption.REPLACE_EXISTING) finally in.close()
        e.getName
      }
    } finally zf.close()
  }

  /** download_gtfs_static_zip + unzip_gtfs_static_zip: fetch → save
    * gtfs_static.zip → extract into dataDir. Returns extracted names.
    */
  def downloadAndExtract(url: String, dataDir: String): Seq[String] = {
    val dir = Paths.get(dataDir)
    Files.createDirectories(dir)
    val zipPath = dir.resolve("gtfs_static.zip")
    Files.write(zipPath, fetchUrl(url))
    extractZip(zipPath, dir)
  }

  /** Minute-stamped snapshot filename stamp (F10 —
    * gtfs_rt_minutely.py:29-31), as `Landing` writes it.
    */
  def minuteStamp(ts: java.time.LocalDateTime = BronzeIngest.parisNow()): String =
    Landing.stamp(ts)

  /** S3's fetch half (gtfs_rt_minutely.py:40-41,58-59 with the 20 s
    * feed timeout): GET a GTFS-RT protobuf feed and land it as a
    * minute-stamped `Landing.fileName` snapshot file for the
    * streaming ingest (RtStream) to pick up. Returns the landed path.
    * Driver-side by design — one ~100 KB blob per poll; the
    * distributed work starts at the binaryFile stream over landingDir.
    */
  def fetchRtSnapshot(url: String, landingDir: String, prefix: String,
                      ts: java.time.LocalDateTime = BronzeIngest.parisNow(),
                      timeoutSeconds: Long = 20L): Path = {
    Landing.write(landingDir, prefix, minuteStamp(ts), fetchUrl(url, timeoutSeconds))
  }
}
