package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap

/** Local HTTP stub replacing the reference's live-network test
  * endpoints (postman-echo.com, api.themoviedb.org, wikidata.org —
  * FIXTURES.md §B2/B4/B5). Routes:
  *   /get?...          echo args as JSON
  *   /status/a,b,c     rotate through the listed status codes per call
  *   /delay/{sec}      sleep then 200
  *   /3/find/{ext}     TMDB find fixture
  *   /3/{type}/{id}    TMDB exists fixture
  *   /w/api.php        MediaWiki blocklist extract fixture
  */
class HttpStub {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val statusCounters = TrieMap.empty[String, AtomicInteger]
  val requestCount = new AtomicInteger(0)
  /** path?query of every request received, in arrival order. */
  val requestLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var lastHeaders: Map[String, String] = Map.empty

  // fixture truths from the reference's own tests (test_wd_tmdb.py:38-86)
  val findFixtures: Map[String, String] = Map(
    "tt1630029" -> """{"movie_results":[{"id":76600}],"tv_results":[],"person_results":[]}""",
    "tt14269590" -> """{"movie_results":[],"tv_results":[{"id":120998}],"person_results":[]}""",
    "nm3718007" -> """{"movie_results":[],"tv_results":[],"person_results":[{"id":1674162}]}""",
    "tt0000000" -> """{"movie_results":[],"tv_results":[],"person_results":[]}""",
    "tvdb:77000" -> """{"movie_results":[],"tv_results":[{"id":615}],"person_results":[]}""")

  val existsFixtures: Map[(String, Long), Boolean] = Map(
    ("movie", 2L) -> true, ("movie", 3L) -> true, ("movie", 0L) -> false,
    ("movie", 4L) -> false, ("movie", 3106L) -> false,
    ("collection", 87255L) -> true, ("collection", 2L) -> false,
    ("collection", 0L) -> false, ("collection", 4L) -> false,
    ("collection", 3106L) -> false,
    ("tv", 615L) -> true, ("tv", 9999L) -> false,
    ("person", 7L) -> true, ("person", 8888L) -> false)

  val fileFixtures = TrieMap.empty[String, Array[Byte]]

  var blocklistExtract: String =
    "Blocked items include Q5 and Q42 plus Q100 for reasons."

  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(null)
  server.start()

  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = try {
    requestCount.incrementAndGet()
    val path = ex.getRequestURI.getPath
    val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    requestLog.add(s"$path?$query")
    val it = ex.getRequestHeaders.entrySet().iterator()
    val hdrs = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); hdrs += (e.getKey -> e.getValue.get(0)) }
    lastHeaders = hdrs.result()
    path match {
      case "/get" =>
        val args = query.split("&").filter(_.nonEmpty).map { kv =>
          val Array(k, v) = kv.split("=", 2).padTo(2, "")
          s""""${java.net.URLDecoder.decode(k, "UTF-8")}":"${java.net.URLDecoder.decode(v, "UTF-8")}""""
        }.mkString(",")
        respond(ex, 200, s"""{"args":{$args}}""")
      case p if p.startsWith("/status/") =>
        val codes = p.stripPrefix("/status/").split(",").map(_.trim.toInt)
        val n = statusCounters.getOrElseUpdate(p, new AtomicInteger(0)).getAndIncrement()
        respond(ex, codes(n % codes.length), "")
      case p if p.startsWith("/delay/") =>
        Thread.sleep(p.stripPrefix("/delay/").toDouble.toLong * 1000)
        respond(ex, 200, """{"ok":true}""")
      case p if p.startsWith("/3/find/") =>
        val ext = p.stripPrefix("/3/find/")
        val key = if (query.contains("external_source=tvdb_id")) s"tvdb:$ext" else ext
        findFixtures.get(key) match {
          case Some(body) => respond(ex, 200, body)
          case None => respond(ex, 404, """{"status_code":34}""")
        }
      case p if p.startsWith("/3/") =>
        val parts = p.stripPrefix("/3/").split("/")
        val exists = existsFixtures.getOrElse((parts(0), parts(1).toLong), false)
        if (exists) respond(ex, 200, s"""{"id":${parts(1)}}""")
        else respond(ex, 404, """{"status_code":34,"status_message":"not found"}""")
      case p if p.startsWith("/files/") =>
        fileFixtures.get(p.stripPrefix("/files/")) match {
          case Some(bytes) =>
            ex.sendResponseHeaders(200, bytes.length)
            ex.getResponseBody.write(bytes); ex.close()
          case None => respond(ex, 404, "no such file")
        }
      case "/w/api.php" =>
        respond(ex, 200,
          s"""{"query":{"pages":{"${Wikidata103442925}":{"extract":"$blocklistExtract"}}}}""")
      case _ => respond(ex, 500, "unknown route")
    }
  } catch { case e: Exception => respond(ex, 500, e.toString) }

  private val Wikidata103442925 = graft.sources.Wikidata.BlockedPageId
}
