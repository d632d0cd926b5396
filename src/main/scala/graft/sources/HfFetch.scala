package graft.sources

import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Prebuffer

/** S17: HuggingFace dataset acquisition — the reference's `huggingface dl
  * --repo --file --output` command (docs/user_manual/03-cli-reference.md:
  * 437-455; README.md:85 "fetch — Download datasets from Hugging Face").
  *
  * The protocol is the PUBLIC HF Hub HTTP layout (documented at
  * huggingface.co/docs/hub/api — public knowledge, no SDK dependency):
  *
  *  - repo metadata: `GET {endpoint}/api/datasets/{repoId}` (or
  *    `/api/datasets/{repoId}/revision/{rev}`) → JSON carrying
  *    `siblings: [{rfilename}, …]` — the repo's file inventory;
  *  - file content: `GET {endpoint}/datasets/{repoId}/resolve/{rev}/{file}`
  *    — a plain ranged-GET endpoint (the hub serves LFS files through the
  *    same resolve path with `Accept-Ranges: bytes`).
  *
  * The transport is the repo's EXISTING ranged-fetch stack
  * ([[Prebuffer.HttpRangeFetcher]]: HEAD size probe, `Range:` GET with
  * 200-fallback skip, bounded exponential-backoff retry) — this module
  * adds only the URL layout, the sibling-list parse, and the distributed
  * chunk fan-out. Spark shape: one batch job per file; executors fetch
  * DISJOINT byte ranges and position-write them into the pre-sized output
  * (the [[Prebuffer.prebuffer]] discipline — disjoint writes never
  * overlap), so a 100 GB shard downloads at aggregate-executor bandwidth
  * instead of one driver socket. PRECONDITION: the output directory must
  * be on a filesystem the executors share with the driver (NFS, or local
  * mode) — probed eagerly by [[preflightSharedFs]] before any byte
  * moves, failing with a clear message instead of per-chunk
  * FileChannel.open errors mid-download. Integrity: optional whole-file sha256
  * (the hub publishes per-LFS-file sha256 in its metadata), verified
  * driver-side in one streaming pass after the fan-out.
  *
  * Zero-egress sandbox: exercised hermetically against the loopback
  * [[graft.operators.HttpFixture]] serving an HF-style tree (the
  * reference proves the same pattern with its Jetty fixture,
  * datatools-jetty-test-server/JettyFileServerFixture.java:62).
  */
object HfFetch {

  /** Public default endpoint; tests override with the loopback fixture. */
  val DefaultEndpoint = "https://huggingface.co"

  private def clean(endpoint: String) = endpoint.stripSuffix("/")

  /** `GET {endpoint}/api/datasets/{repoId}[/revision/{rev}]` URL. */
  def apiUrl(endpoint: String, repoId: String, revision: String = "main"): String =
    s"${clean(endpoint)}/api/datasets/$repoId" +
      (if (revision == "main") "" else s"/revision/$revision")

  /** `GET {endpoint}/datasets/{repoId}/resolve/{rev}/{file}` URL. */
  def resolveUrl(endpoint: String, repoId: String, filename: String,
      revision: String = "main"): String =
    s"${clean(endpoint)}/datasets/$repoId/resolve/$revision/$filename"

  /** Whole-body GET through the retrying transport (the fetcher's HEAD
    * probe sizes it; bodies here are repo-metadata JSON, driver-side).
    */
  private def fetchBody(url: String): String = {
    val f = new Prebuffer.HttpRangeFetcher(url)
    val size = f.size()
    require(size <= 64L * 1024 * 1024, s"metadata body too large: $size bytes")
    new String(f.fetchRange(0, size.toInt), "UTF-8")
  }

  /** Repo file inventory: (rfilename, size, sha256) — size/sha256 null
    * when the metadata does not carry them (non-LFS files). One metadata
    * GET; the JSON parses through Spark's own reader so no JSON library
    * is added.
    */
  def listFiles(spark: SparkSession, repoId: String,
      revision: String = "main",
      endpoint: String = DefaultEndpoint): DataFrame = {
    import spark.implicits._
    val body = fetchBody(apiUrl(endpoint, repoId, revision))
    val parsed = spark.read.json(Seq(body).toDS())
    require(parsed.columns.contains("siblings"),
      s"HF metadata for $repoId carries no siblings list")
    val sib = parsed.select(explode(col("siblings")).as("s"))
    val cols = sib.select(col("s.*")).columns.toSet
    sib.select(
      col("s.rfilename").as("rfilename"),
      (if (cols.contains("size")) col("s.size") else lit(null)).cast("long").as("size"),
      (if (cols.contains("lfs")) col("s.lfs.sha256") else lit(null))
        .cast("string").as("sha256"))
  }

  /** PRECONDITION of the distributed fan-out: `dir` must be on a
    * filesystem every executor shares with the driver (executor tasks
    * position-write disjoint ranges into one driver-created file — the
    * aggregate-executor-bandwidth design only exists on a shared FS;
    * trivially true on local mode). Probed EAGERLY: the driver writes a
    * marker, one executor task checks it, and a missing marker fails
    * with a clear message BEFORE any ranged GET is spent — instead of
    * every remote chunk task failing FileChannel.open mid-download.
    */
  private[sources] def preflightSharedFs(spark: SparkSession, dir: String): Unit = {
    val marker = Paths.get(dir,
      s".graft-sharedfs-probe-${java.util.UUID.randomUUID()}")
    Files.write(marker, Array[Byte](1))
    try {
      val markerPath = marker.toString
      val seen = spark.sparkContext.parallelize(Seq(1), 1)
        .map(_ => Files.exists(Paths.get(markerPath))).first()
      require(seen,
        s"fetch: output dir $dir is not on a filesystem shared with the " +
          "executors — the distributed ranged-GET fan-out position-writes " +
          "one file from many executors and requires a shared FS (NFS/" +
          "local mode). Point --output at shared storage.")
    } finally Files.deleteIfExists(marker)
  }

  /** Generic distributed URL fetch (the `fetch --url` verb, and the core
    * of [[download]]): pull `url` into `outPath` via executor-parallel
    * disjoint ranged GETs, position-written into the pre-sized output.
    * REQUIRES `outPath`'s directory on a shared filesystem (see
    * [[preflightSharedFs]] — probed before any byte moves). Returns the
    * per-chunk report (chunk_idx, valid, error); any invalid row fails
    * loudly (a partially-written file must never look acquired).
    * `sha256` verifies the assembled file driver-side in one streaming
    * pass.
    */
  def fetchUrl(spark: SparkSession, url: String, outPath: String,
      sha256: Option[String] = None,
      chunkBytes: Int = 8 * 1024 * 1024): DataFrame = {
    require(chunkBytes > 0, s"chunkBytes must be > 0, got $chunkBytes")
    val fetcher = Prebuffer.fetcherFor(url)
    val totalSize = fetcher.size()
    val dir = Option(Paths.get(outPath).getParent).getOrElse(Paths.get("."))
    Files.createDirectories(dir)
    preflightSharedFs(spark, dir.toString)

    // pre-size so executor positioned writes land in a complete file
    val raf = new java.io.RandomAccessFile(outPath, "rw")
    try raf.setLength(totalSize) finally raf.close()

    val nChunks = ((totalSize + chunkBytes - 1) / chunkBytes).toInt
    import spark.implicits._
    // materialized NOW: the fan-out runs here; the report is the receipt
    val report = graft.operators.Materialize.view((0 until nChunks).toDS()
      .repartition(math.max(1, math.min(nChunks, 32)))
      .map { idx =>
        val start = idx.toLong * chunkBytes
        val len = (math.min(start + chunkBytes, totalSize) - start).toInt
        try {
          val bytes = fetcher.fetchRange(start, len)
          val ch = FileChannel.open(Paths.get(outPath), StandardOpenOption.WRITE)
          try ch.write(ByteBuffer.wrap(bytes), start) finally ch.close()
          (idx, true, null: String)
        } catch { case e: Exception => (idx, false, e.toString) }
      }
      .toDF("chunk_idx", "valid", "error"))
    val bad = report.filter(!col("valid")).limit(1).collect()
    require(bad.isEmpty,
      s"fetch $url: chunk ${bad.head.getInt(0)} failed: " +
        s"${bad.head.getString(2)}")

    sha256.foreach { expected =>
      val md = MessageDigest.getInstance("SHA-256")
      val in = Files.newInputStream(Paths.get(outPath))
      try {
        val buf = new Array[Byte](1 << 20)
        var r = in.read(buf)
        while (r > 0) { md.update(buf, 0, r); r = in.read(buf) }
      } finally in.close()
      val got = md.digest().map("%02x".format(_)).mkString
      require(got == expected.toLowerCase,
        s"fetch $url: sha256 mismatch — got $got, " +
          s"expected $expected (transport corruption or stale metadata)")
    }
    report
  }

  /** Download `{repoId}/{filename}` into `outputDir` via distributed
    * ranged GETs ([[fetchUrl]] over the HF resolve URL — shared-FS
    * precondition and preflight included). Returns the local path and
    * the per-chunk report. `chunkBytes` is the per-request range size
    * (HF shards are GB-scale — 8 MiB ranges keep request count and
    * per-task memory both bounded).
    */
  def download(spark: SparkSession, repoId: String, filename: String,
      outputDir: String, revision: String = "main",
      endpoint: String = DefaultEndpoint, sha256: Option[String] = None,
      chunkBytes: Int = 8 * 1024 * 1024): (String, DataFrame) = {
    val url = resolveUrl(endpoint, repoId, filename, revision)
    Files.createDirectories(Paths.get(outputDir))
    // flat local name (HF rfilenames may carry directories)
    val outPath = Paths.get(outputDir,
      Paths.get(filename).getFileName.toString).toString
    (outPath, fetchUrl(spark, url, outPath, sha256, chunkBytes))
  }
}
