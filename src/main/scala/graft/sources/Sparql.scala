package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.slf4j.LoggerFactory

import graft.operators.Http
import graft.util.Actions

/** SPARQL endpoint → DataFrame source (sparql.py:21-90).
  *
  * The reference sends exactly one query per frame, driver-side, and
  * parses the CSV reply against a declared schema; the Spark
  * translation fetches and parses on the driver at call time, and the
  * rows become an RDD-backed frame (the leaf Spark's own readers
  * build), so size estimates and plans stay those of a scan. Retry:
  * exponential backoff, <=30 tries, interval capped at 120s; WDQS
  * embedded-timeout bodies are treated as timeouts and retried; slow
  * queries are logged (>5s) or warned (>45s).
  */
object Sparql {

  /** query → raw CSV bytes; pluggable so tests use canned fixtures. */
  type Fetch = String => Array[Byte]

  /** Deployment settings; the retry and timeout envelope is the
    * reference's and fixed (sparql.py:21-48).
    */
  final case class Config(
      endpoint: String = "https://query.wikidata.org/sparql",
      userAgent: String = s"GraftBot/1.0 Scala/${util.Properties.versionNumberString}")

  private val MaxTries = 30
  private val MaxIntervalMs = 120000L
  private val ConnectTimeout = java.time.Duration.ofSeconds(1)
  private val ReadTimeout = java.time.Duration.ofSeconds(90)
  private val SlowLogSec = 5.0
  private val SlowWarnSec = 45.0

  private val log = LoggerFactory.getLogger(getClass)

  /** POST on the calling thread with the reference's retry envelope;
    * one client per returned Fetch.
    */
  def httpFetch(cfg: Config = Config()): Fetch = {
    val client = java.net.http.HttpClient.newBuilder().connectTimeout(ConnectTimeout).build()
    query => {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(cfg.endpoint))
        .timeout(ReadTimeout)
        .header("Accept", "text/csv")
        .header("User-Agent", cfg.userAgent)
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          "query=" + java.net.URLEncoder.encode(query, "UTF-8")))
        .build()
      Http.retrying(MaxTries, MaxIntervalMs) {
        val t0 = System.nanoTime()
        val r = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        val text = new String(r.body(), java.nio.charset.StandardCharsets.UTF_8)
        // WDQS quirk: timeouts surface as 200s with an embedded Java
        // exception in the body (sparql.py:39-40)
        if (text.contains("java.util.concurrent.TimeoutException"))
          throw new java.io.IOException("embedded TimeoutException")
        if (r.statusCode() >= 400)
          throw new java.io.IOException(s"HTTP ${r.statusCode()}")
        val duration = (System.nanoTime() - t0) / 1e9
        if (duration > SlowWarnSec)
          Actions.warn(f"sparql: $duration%,.2fs", Actions.SlowQueryWarning)
        else if (duration > SlowLogSec) log.info(f"sparql: $duration%,.2fs")
        r.body()
      }
    }
  }

  /** Declared-schema SPARQL source (sparql.py:73-90): one pass of
    * Spark's CSV record parser over the reply bytes, on the driver at
    * call time. Header names are checked in order against the schema;
    * an empty field reads as null; a value that does not parse fails
    * the call; quoted fields may hold commas and newlines.
    */
  def sparql(spark: SparkSession, query: String, schema: StructType,
             fetch: Fetch): DataFrame = {
    val bytes = fetch(query)
    require(bytes.exists(b => b != '\n' && b != '\r'), "empty SPARQL response")
    val options = new CSVOptions(
      Map("header" -> "true", "enforceSchema" -> "false", "multiLine" -> "true",
        "mode" -> "FAILFAST"),
      false, SQLConf.get.sessionLocalTimeZone)
    val toUnsafe = UnsafeProjection.create(schema)
    // the parser reuses its row object: the projection copies each one
    val rows = GraftSqlShims.parseCsvStream(new java.io.ByteArrayInputStream(bytes),
      new UnivocityParser(schema, options), new CSVHeaderChecker(schema, options, "SPARQL reply"),
      schema).map(r => toUnsafe(r).copy(): InternalRow).toVector
    val sc = spark.sparkContext
    GraftSqlShims.rddFrame(spark,
      sc.parallelize(rows, math.min(math.max(rows.size, 1), sc.defaultParallelism)), schema)
  }
}
