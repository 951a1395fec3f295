package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Http

class HttpSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  lazy val stub = new HttpStub
  override def afterAll(): Unit = stub.stop()

  private def req(urls: Seq[Option[String]]) =
    urls.toDF("url").withColumn("request", Http.prepareRequest(col("url")))

  test("prepareRequest builds {url, headers} struct with query string") {
    val df = Seq("id1").toDF("v").select(Http.prepareRequest(
      lit(s"${stub.base}/get"),
      fields = Seq("a" -> lit("1"), "b" -> col("v")),
      headers = Seq("X-Test" -> lit("yes"))).as("r"))
    assert(df.schema("r").dataType.simpleString === Http.RequestType.simpleString)
    val r = df.head().getStruct(0)
    assert(r.getString(0) === s"${stub.base}/get?a=1&b=id1")
    assert(r.getSeq[org.apache.spark.sql.Row](1).map(h => (h.getString(0), h.getString(1))) ===
      Seq(("X-Test", "yes")))
  }

  test("prepareRequest null-propagates: null field -> null request url") {
    val df = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(Http.prepareRequest(lit("http://h/"), fields = Seq("k" -> col("b"))).as("r"))
    assert(df.head().getStruct(0).isNullAt(0))
  }

  test("request executes GETs, preserves schema and row count, sends headers") {
    val df = Seq("u1", "u2").toDF("tag")
      .withColumn("request", Http.prepareRequest(
        fmtUrl(col("tag")), headers = Seq("X-Tag" -> col("tag"))))
    val out = Http.request(df, "request", Http.Options(logGroup = "test"))
    assert(out.schema.fieldNames.toSeq === Seq("tag", "request", "response"))
    assert(out.schema("response").dataType === Http.ResponseType)
    val rows = out.orderBy("tag").collect()
    assert(rows.length === 2)
    val resp = rows(0).getStruct(2)
    assert(resp.getInt(0) === 200)
    val text = new String(resp.getAs[Array[Byte]]("data"), "UTF-8")
    assert(text.contains(""""tag":"u1""""))
  }

  private def fmtUrl(tag: org.apache.spark.sql.Column) =
    graft.functions.ColumnOps.fmt(s"{}/get?tag={}", lit(stub.base), tag)

  test("null and empty urls are skipped with null responses") {
    val df = req(Seq(Some(s"${stub.base}/get"), None))
    val before = stub.requestCount.get()
    val out = Http.request(df, "request", Http.Options()).collect()
    assert(out.length === 2)
    assert(!out(0).isNullAt(1) || !out(1).isNullAt(1))
    assert(out.count(_.isNullAt(2)) === 1)
    assert(stub.requestCount.get() - before === 1)
  }

  test("empty input produces empty typed output") {
    val df = req(Nil)
    val out = Http.request(df, "request", Http.Options())
    assert(out.schema("response").dataType === Http.ResponseType)
    assert(out.count() === 0)
  }

  test("bad status retries until ok (500 -> 200 rotation)") {
    val df = req(Seq(Some(s"${stub.base}/status/500,200")))
    val out = Http.request(df, "request",
      Http.Options(okStatuses = Set(200), badStatuses = Set(500)))
    assert(out.head().getStruct(2).getInt(0) === 200)
  }

  test("non-ok status throws once its tries are spent") {
    val df = req(Seq(Some(s"${stub.base}/status/500")))
    val t0 = System.nanoTime()
    val e = intercept[org.apache.spark.SparkException] {
      Http.request(df, "request", Http.Options()).collect()
    }
    assert(e.getMessage.contains("HTTP 500") || e.getCause != null)
    // three tries: 1 s + 2 s of backoff between them
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(elapsedMs >= 3000, s"gave up after only ${elapsedMs}ms")
  }

  test("each ::group:: is closed by exactly one ::endgroup::, on success and failure") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = LogManager.getLogger("graft.http").asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("http-groups", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val oldLevel = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.INFO)
    try {
      Http.request(req(Seq(Some(s"${stub.base}/get?grp=1"))), "request",
        Http.Options(logGroup = "groups-ok")).collect()
      intercept[org.apache.spark.SparkException] {
        Http.request(req(Seq(Some(s"${stub.base}/status/500"))), "request",
          Http.Options(logGroup = "groups-fail")).collect()
      }
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(oldLevel)
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    val marks = seen.asScala.toSeq
      .filter(m => m.startsWith("::group::") || m == "::endgroup::")
    assert(marks === Seq("::group::groups-ok", "::endgroup::",
      "::group::groups-fail", "::endgroup::"), marks)
  }

  test("404 can be declared ok (tmdb_exists pattern)") {
    val df = req(Seq(Some(s"${stub.base}/3/movie/0")))
    val out = Http.request(df, "request", Http.Options(okStatuses = Set(200, 404)))
    assert(out.head().getStruct(2).getInt(0) === 404)
  }

  test("min_time paces requests to the floor") {
    val df = req(Seq(Some(s"${stub.base}/get?x=1"), Some(s"${stub.base}/get?x=2")))
      .coalesce(1)
    val t0 = System.nanoTime()
    Http.request(df, "request", Http.Options(minTimeMs = 300)).collect()
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(elapsedMs >= 600, s"two paced requests took only ${elapsedMs}ms")
  }

  test("pacing and the batch guard are global: no caller coalesce needed") {
    val paced = req((1 to 8).map(i => Some(s"${stub.base}/get?p=$i"))).repartition(4)
    val t0 = System.nanoTime()
    Http.request(paced, "request", Http.Options(minTimeMs = 200)).collect()
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(elapsedMs >= 1600, s"eight paced requests took only ${elapsedMs}ms")
    val spread = req((1 to 5).map(i => Some(s"${stub.base}/get?g=$i"))).repartition(4)
    intercept[org.apache.spark.SparkException] {
      Http.request(spread, "request", Http.Options(maxBatchSize = 3)).collect()
    }
  }

  test("per-partition batch guard trips") {
    val df = req((1 to 5).map(i => Some(s"${stub.base}/get?i=$i"))).coalesce(1)
    intercept[org.apache.spark.SparkException] {
      Http.request(df, "request", Http.Options(maxBatchSize = 3)).collect()
    }
  }

  test("responseText decodes body bytes as UTF-8 string") {
    val df = req(Seq(Some(s"${stub.base}/get?q=v")))
    val out = Http.request(df, "request", Http.Options())
      .select(Http.responseText(col("response")).as("t"))
    assert(out.head().getString(0).contains(""""q":"v""""))
  }
}
