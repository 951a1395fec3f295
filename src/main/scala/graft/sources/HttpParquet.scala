package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.LoggerFactory

/** Remote-HTTPS Parquet source (SURVEY.md S1: the reference lazily
  * scans published parquet indices over HTTPS, e.g.
  * josh.github.io/tmdb-index/tmdb-movie.parquet — wd_tmdb.py:227).
  *
  * Spark has no HTTP Hadoop filesystem, so the index is fetched once
  * on the driver into a content-addressed local cache and read
  * through the normal vectorized parquet scan — which preserves
  * column pruning and predicate pushdown (the footer lives locally).
  * Index tables are small dimension tables (the 100 TB side is never
  * behind HTTP); for big data lakes the expectation is a real
  * cluster filesystem and plain `spark.read.parquet`.
  */
object HttpParquet {

  private val log = LoggerFactory.getLogger(getClass)
  private val Timeout = java.time.Duration.ofSeconds(60)
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL).build()

  def cacheDir: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-http-parquet")
    java.nio.file.Files.createDirectories(p)
    p
  }

  /** Fetch `url` to the local cache (keyed by URL hash; re-fetched
    * only when absent or `refresh`), then parquet-scan it.
    */
  def read(spark: SparkSession, url: String, refresh: Boolean = false): DataFrame = {
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest(url.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(32)
    val target = cacheDir.resolve(s"$key.parquet")
    if (refresh || !java.nio.file.Files.exists(target)) {
      log.info(s"fetching $url -> $target")
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(Timeout).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      require(resp.statusCode() == 200, s"HTTP ${resp.statusCode()} fetching $url")
      val tmp = java.nio.file.Files.createTempFile(cacheDir, key, ".part")
      java.nio.file.Files.write(tmp, resp.body())
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    spark.read.parquet(target.toString)
  }
}
