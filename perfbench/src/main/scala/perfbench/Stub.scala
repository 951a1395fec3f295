package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Loopback stand-in for the bots' remote APIs: the SPARQL endpoint
  * (POST /sparql), the published parquet indexes (GET /index/{name}),
  * and the TMDB API (GET /3/find/{ext}, GET /3/{type}/{id}). Every
  * answer is sent after a fixed service delay that models the remote
  * round trip.
  *
  * Calibration: the JDK server sends headers and body in separate
  * writes, so without TCP_NODELAY every loopback exchange stalls on
  * delayed ACK (about 45 ms); `sun.net.httpserver.nodelay` must be set
  * before the server class loads, which `Stub.configure` does. The
  * worker pool is daemon, so a stub that is never stopped cannot keep
  * the JVM alive.
  */
final class Stub(in: Inputs, indexFiles: Map[String, Array[Byte]], val delayMs: Int,
                 val apiKey: String, threads: Int) {
  Stub.configure()

  /** Server-side counters; `reset` zeroes them between iterations. */
  val requests = new AtomicLong
  val inFlightMax = new AtomicInteger
  private val inFlight = new AtomicInteger
  private val routes = new ConcurrentHashMap[String, Stub.RouteStats]()

  def reset(): Unit = { requests.set(0); inFlightMax.set(0); routes.clear() }
  def route(name: String): Stub.RouteStats = routes.computeIfAbsent(name, _ => new Stub.RouteStats)
  /** Requests, busy seconds and non-200 answers summed over routes. */
  def sum(names: String*): (Long, Double, Long) = {
    val rs = names.map(route)
    (rs.map(_.count.get).sum, rs.map(_.busyNanos.get).sum / 1e9, rs.map(_.nonOk.get).sum)
  }

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"stub-${n.incrementAndGet()}"); t.setDaemon(true); t
    }
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def sparqlEndpoint: String = s"$base/sparql"
  def indexUrl(name: String): String = s"$base/index/$name.parquet"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }

  private def respond(ex: HttpExchange, status: Int, body: Array[Byte], ctype: String): Unit = {
    if (status != 200) current.get.nonOk.incrementAndGet()
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  private def json(ex: HttpExchange, status: Int, body: String): Unit =
    respond(ex, status, body.getBytes(UTF_8), "application/json")

  private val current = new ThreadLocal[Stub.RouteStats]
  private def count(name: String): Unit = {
    val r = route(name); r.count.incrementAndGet(); current.set(r)
  }

  private def findBody(source: String, ext: String): String = {
    val hit = in.find.get((source, ext))
    Seq("movie", "tv", "person").map { t =>
      val list = hit.collect { case (ht, id) if ht == t => s"""{"id":$id}""" }.mkString
      s""""${t}_results":[$list]"""
    }.mkString("{", ",", "}")
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val now = inFlight.incrementAndGet()
    inFlightMax.accumulateAndGet(now, math.max)
    requests.incrementAndGet()
    try {
      val uri = ex.getRequestURI
      val path = uri.getPath
      val params = Option(uri.getRawQuery).getOrElse("").split("&").filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) kv -> "" else kv.take(i) -> java.net.URLDecoder.decode(kv.drop(i + 1), UTF_8)
      }.toMap
      val body = ex.getRequestBody.readAllBytes()
      if (delayMs > 0 && path != "/ping") Thread.sleep(delayMs)
      path.split("/").toList.drop(1) match {
        case "ping" :: Nil =>
          count("ping"); respond(ex, 200, Array.emptyByteArray, "text/plain")
        case "sparql" :: Nil =>
          count("sparql")
          val form = new String(body, UTF_8)
          val query = java.net.URLDecoder.decode(form.stripPrefix("query="), UTF_8)
          in.sparql.get(query) match {
            case Some(csv) => respond(ex, 200, csv.getBytes(UTF_8), "text/csv")
            case None => respond(ex, 400, "unknown query".getBytes(UTF_8), "text/plain")
          }
        case "index" :: file :: Nil =>
          count("index")
          indexFiles.get(file.stripSuffix(".parquet")) match {
            case Some(bytes) => respond(ex, 200, bytes, "application/octet-stream")
            case None => respond(ex, 404, Array.emptyByteArray, "text/plain")
          }
        case "3" :: _ if !params.get("api_key").contains(apiKey) =>
          count("tmdb"); json(ex, 401, """{"status_code":7}""")
        case "3" :: "find" :: ext :: Nil =>
          count("tmdb_find")
          json(ex, 200, findBody(params.getOrElse("external_source", ""), ext))
        case "3" :: tmdbType :: id :: Nil =>
          count("tmdb_exists")
          id.toLongOption.filter(i => in.exists((tmdbType, i))) match {
            case Some(i) => json(ex, 200, s"""{"id":$i}""")
            case None => json(ex, 404, """{"success":false,"status_code":34}""")
          }
        case _ =>
          count("other"); respond(ex, 404, Array.emptyByteArray, "text/plain")
      }
    } finally {
      inFlight.decrementAndGet()
      Option(current.get).foreach(_.busyNanos.addAndGet(System.nanoTime() - t0))
      current.remove()
    }
  }
}

object Stub {
  final class RouteStats {
    val count = new AtomicLong
    val busyNanos = new AtomicLong
    val nonOk = new AtomicLong
  }

  /** Must run before `com.sun.net.httpserver` loads its config. */
  def configure(): Unit = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    ()
  }

  /** Median wall ms of `n` sequential bare JDK-client GETs of /ping,
    * which the stub answers with no service delay, after as many
    * unmeasured ones so a fresh JVM has compiled the client.
    */
  def roundTripMedianMs(stub: Stub, n: Int): Double = {
    val client = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"${stub.base}/ping")).GET().build()
    (0 until n).foreach(_ => client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding()))
    val ms = (0 until n).map { _ =>
      val t0 = System.nanoTime()
      val r = client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
      require(r.statusCode() == 200, s"ping answered ${r.statusCode()}")
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ms(n / 2)
  }
}
