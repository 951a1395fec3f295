package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.slf4j.LoggerFactory

import graft.functions.ColumnOps.fmt
import graft.util.Actions

/** The reference engine's signature design: HTTP modeled as columnar
  * expressions over nested struct columns (polars_requests.py:49-66,
  * 90-194, 224-248). A request is a Struct{url, headers} column, a
  * response a Struct{status, headers, data} column, and "call the
  * API" is a frame transform.
  *
  * Spark-first translation:
  *  - `prepareRequest`/`responseText` stay pure Column expressions.
  *  - `request` is a `mapPartitions` transform over ONE partition —
  *    the direct analog of the reference's single `map_batches` loop:
  *    one client session, strictly sequential, per-request rate
  *    floor, retry with exponential backoff, status classification,
  *    batch cap. One partition makes the pacing and the cap global.
  *    mapPartitions is also an analysis barrier, so Catalyst can
  *    never push a filter past the side-effecting HTTP call or
  *    duplicate it across projections (SURVEY.md §4.1).
  *  - [[retrying]] is the one backoff loop of the I/O path; the
  *    SPARQL source retries through it too.
  */
object Http {

  private val log = LoggerFactory.getLogger("graft.http")

  val HeaderType: StructType = StructType(Seq(
    StructField("name", StringType), StructField("value", StringType)))
  val RequestType: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("headers", ArrayType(HeaderType))))
  val ResponseType: StructType = StructType(Seq(
    StructField("status", IntegerType),
    StructField("headers", ArrayType(HeaderType)),
    StructField("data", BinaryType)))

  /** Client-visible response of one HTTP exchange. */
  final case class Exchange(status: Int, headers: Seq[(String, String)], data: Array[Byte])

  /** Pluggable transport so tests run against a local stub and
    * production uses the JDK client. GETs only, redirects NOT
    * followed (polars_requests.py:119 allow_redirects=False).
    */
  trait Transport extends Serializable {
    def get(url: String, headers: Seq[(String, String)], timeoutMs: Int): Exchange
  }

  /** java.net.http-based transport; one client per executor (lazy,
    * transient — never serialized).
    */
  object JdkTransport extends Transport {
    @transient private lazy val client: java.net.http.HttpClient =
      java.net.http.HttpClient.newBuilder()
        .followRedirects(java.net.http.HttpClient.Redirect.NEVER)
        .build()
    override def get(url: String, headers: Seq[(String, String)], timeoutMs: Int): Exchange = {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs)).GET()
      headers.foreach { case (n, v) => b.header(n, v) }
      val r = client.send(b.build(),
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      val hs = r.headers().map().entrySet().iterator()
      val out = Seq.newBuilder[(String, String)]
      while (hs.hasNext) {
        val e = hs.next()
        e.getValue.forEach(v => out += ((e.getKey, v)))
      }
      Exchange(r.statusCode(), out.result(), r.body())
    }
  }

  /** Retry/pacing policy (polars_requests.py:173-194 defaults). */
  final case class Options(
      logGroup: String = "http",
      minTimeMs: Long = 0L,
      okStatuses: Set[Int] = Set(200),
      badStatuses: Set[Int] = Set.empty,
      maxBatchSize: Long = 50000L)

  // Per-request timeout and backoff cap: the reference's defaults
  // (polars_requests.py:173-194), which no caller overrides; and the
  // tries per request, the value every caller passed.
  private val TimeoutMs = 10000
  private val MaxRetrySleepMs = 300000L
  private val Tries = 3

  private def headerStruct(name: String, value: Column): Column =
    struct(lit(name).as("name"), value.cast(StringType).as("value"))

  /** headers dict as array<struct{name,value}>; empty -> null list
    * (polars_requests.py:208-212).
    */
  def httpDict(pairs: Seq[(String, Column)]): Column =
    if (pairs.isEmpty) lit(null).cast(ArrayType(HeaderType))
    else array(pairs.map { case (n, v) => headerStruct(n, v) }: _*)

  /** Build a request struct column; query string via null-propagating
    * format — a null url or field nulls the whole request, which
    * `request` then skips (polars_requests.py:224-244).
    */
  def prepareRequest(url: Column,
                     fields: Seq[(String, Column)] = Nil,
                     headers: Seq[(String, Column)] = Nil): Column = {
    val u =
      if (fields.isEmpty) url
      else fmt("{}?" + fields.map(_._1 + "={}").mkString("&"),
        (url +: fields.map(_._2)): _*)
    struct(u.as("url"), httpDict(headers).as("headers")).as("request")
  }

  /** response data as UTF-8 text (polars_requests.py:247-248). */
  def responseText(response: Column): Column =
    response.getField("data").cast(StringType).as("response_text")

  /** Execute the requests in `requestCol`, appending `response`.
    *
    * Mirrors the reference's batch loop (polars_requests.py:90-170):
    * one transport session, sequential ordered loop, per-request
    * `minTime` floor (sleep the remainder), exponential-backoff retry
    * (3 tries) on bad/unknown statuses and transport errors, warning
    * when a retried request's status changes, hard cap on requests
    * per batch. Null/empty URL → null response, no network call. The
    * partition's `::group::` is closed by a task-completion listener,
    * so it is closed on success and on failure alike.
    */
  def request(df: DataFrame, requestCol: String, opts: Options,
              transport: Transport = JdkTransport): DataFrame = {
    val reqIdx = df.schema.fieldIndex(requestCol)
    val outSchema = df.schema.add(StructField("response", ResponseType))
    val o = opts
    df.repartition(1).mapPartitions { rows =>
      log.info(s"::group::${o.logGroup}")
      TaskContext.get().addTaskCompletionListener[Unit](_ => log.info("::endgroup::"))
      var count = 0L
      rows.map { row =>
        count += 1
        require(count < o.maxBatchSize, s"Too many requests: $count")
        val req = if (row.isNullAt(reqIdx)) null else row.getStruct(reqIdx)
        val url = if (req == null || req.isNullAt(0)) null else req.getString(0)
        val resp: Row =
          if (url == null || url.isEmpty) null
          else {
            val headers: Seq[(String, String)] =
              if (req.isNullAt(1)) Nil
              else req.getSeq[Row](1).map(h => (h.getString(0), h.getString(1)))
            var previousStatus: Option[Int] = None
            val ex = retrying(Tries, MaxRetrySleepMs) {
              val t0 = System.nanoTime()
              val ex = transport.get(url, headers, TimeoutMs)
              previousStatus.filter(p => p != ex.status && !o.badStatuses.contains(p))
                .foreach(p => Actions.warn(s"Retried $p -> ${ex.status}", Actions.StatusCodeWarning))
              previousStatus = Some(ex.status)
              val sleepMs = o.minTimeMs - (System.nanoTime() - t0) / 1000000L
              if (sleepMs > 0) Thread.sleep(sleepMs)
              if (!o.okStatuses.contains(ex.status)) {
                if (!o.badStatuses.contains(ex.status))
                  Actions.warn(s"Unknown status code: ${ex.status}", Actions.StatusCodeWarning)
                throw new java.io.IOException(s"HTTP ${ex.status} for $url")
              }
              ex
            }
            Row(ex.status, ex.headers.map { case (n, v) => Row(n, v) }, ex.data)
          }
        Row.fromSeq(row.toSeq :+ resp)
      }
    }(Encoders.row(outSchema))
  }

  /** Evaluates `body` up to `tries` times (at least once), sleeping
    * 1 s, 2 s, 4 s, ... capped at `maxSleepMs` after each failure; the
    * last failure propagates (polars_requests.py:80-85, sparql.py:21-26).
    */
  private[graft] def retrying[T](tries: Int, maxSleepMs: Long)(body: => T): T = {
    var attempt = 1
    var out: Option[T] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case e: Exception if attempt < tries =>
          val sleepMs = math.min(1000L << math.min(attempt - 1, 20), maxSleepMs)
          log.info(s"retrying (${e.getMessage}) in ${sleepMs}ms")
          Thread.sleep(sleepMs)
          attempt += 1
      }
    }
    out.get
  }
}
