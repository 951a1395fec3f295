package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.{WdOpenCritic, WdTmdb}
import graft.sources.Sparql
import graft.operators.Http

/** Golden-fixture end-to-end runs of both bot pipelines against the
  * local stub + canned SPARQL CSV (FIXTURES.md §B3-B7), asserting the
  * exact RDF statements the reference would emit.
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  lazy val stub = new HttpStub
  override def afterAll(): Unit = stub.stop()

  private def fill(template: String, args: String*): String =
    args.foldLeft(template)((t, a) => t.replaceFirst("\\{\\}",
      java.util.regex.Matcher.quoteReplacement(a)))

  // ---- SPARQL fixtures keyed by query content ----
  private val movieCsv =
    """item,imdb_id,tmdb_id
      |http://www.wikidata.org/entity/Q101,tt1630029,
      |http://www.wikidata.org/entity/Q102,tt5555,42
      |http://www.wikidata.org/entity/Q103,tt777,
      |http://www.wikidata.org/entity/Q104,tt777,
      |http://www.wikidata.org/entity/Q42,tt888,
      |http://www.wikidata.org/entity/Q106,tt9999,
      |""".stripMargin
  private val emptyImdbCsv = "item,imdb_id,tmdb_id\n"
  private val tvdbCsv =
    """item,tvdb_id,tmdb_id
      |http://www.wikidata.org/entity/Q201,77000,
      |""".stripMargin
  private val movieStatementsCsv =
    """statement,id
      |wds:Q1-dead,3106
      |wds:Q2-alive,2
      |""".stripMargin
  private val emptyStatementsCsv = "statement,id\n"

  private val tmdbFetch: Sparql.Fetch = { q =>
    val csv =
      if (q.contains("wd:Q11424")) movieCsv
      else if (q.contains("?imdb_id")) emptyImdbCsv
      else if (q.contains("?tvdb_id")) tvdbCsv
      else if (q.contains("ps:P4947")) movieStatementsCsv
      else if (q.contains("ps:P498")) emptyStatementsCsv
      else fail(s"unexpected query: $q")
    csv.getBytes("UTF-8")
  }

  private def movieIndex: DataFrame = Seq(
    (999L, Some(1630029L), java.sql.Date.valueOf("2023-01-01"), true),
    (3106L, None, java.sql.Date.valueOf("2023-01-01"), false),
    (2L, Some(4444L), java.sql.Date.valueOf("2023-01-01"), false),
    (77L, Some(5555L), java.sql.Date.valueOf("2023-01-01"), true)
  ).toDF("id", "imdb_numeric_id", "date", "success")

  private def tvIndex: DataFrame = Seq(
    (615L, Some(77000L), java.sql.Date.valueOf("2023-01-01"), true)
  ).toDF("id", "tvdb_id", "date", "success")
    .withColumn("imdb_numeric_id", lit(null).cast(LongType))

  private def personIndex: DataFrame =
    Seq.empty[(Long, Option[Long], java.sql.Date, Boolean)]
      .toDF("id", "imdb_numeric_id", "date", "success")

  private def sources = WdTmdb.Sources(
    sparqlFetch = tmdbFetch,
    tmdbIndex = Map("movie" -> movieIndex, "tv" -> tvIndex, "person" -> personIndex),
    apiBase = stub.base,
    apiKey = "k",
    transport = Http.JdkTransport,
    blockedQids = Seq("Q42", "Q100"))

  test("find_tmdb_ids_via_imdb_id(movie): filters + join + find API -> exact RDF") {
    val out = WdTmdb.findTmdbIdsViaImdbId(spark, "movie", sources)
    assert(out.columns.toSeq === Seq("rdf_statement"))
    assert(out.collect().map(_.getString(0)).toSeq === Seq(
      "<http://www.wikidata.org/entity/Q101> wdt:P4947 \"76600\" ; " +
        "wikidatabots:editSummary \"Add TMDb movie ID claim via associated IMDb ID\" ."))
  }

  test("find_tmdb_ids_via_tvdb_id: tvdb key join + find API -> exact RDF") {
    val out = WdTmdb.findTmdbIdsViaTvdbId(spark, sources)
    assert(out.collect().map(_.getString(0)).toSeq === Seq(
      "<http://www.wikidata.org/entity/Q201> wdt:P4983 \"615\" ; " +
        "wikidatabots:editSummary \"Add TMDb TV series ID claim via associated TheTVDB.com series ID\" ."))
  }

  test("find_tmdb_ids_not_found(movie): dead id deprecated, live id kept") {
    val out = WdTmdb.findTmdbIdsNotFound(spark, "movie", sources)
    assert(out.collect().map(_.getString(0)).toSeq === Seq(
      "<wds:Q1-dead> wikibase:rank wikibase:DeprecatedRank ; pq:P2241 wd:Q21441764 ; " +
        "wikidatabots:editSummary \"Deprecate removed TMDB movie ID\" ."))
  }

  // ---- OpenCritic ----
  private val ocTopCsv =
    """item,opencritic_id,statement,review_score,point_in_time,number_of_reviews
      |http://www.wikidata.org/entity/Q301,1001,,,,
      |http://www.wikidata.org/entity/Q302,1002,wds:Q302-aaa,70/100,2022-01-01T00:00:00Z,12
      |http://www.wikidata.org/entity/Q303,1003,wds:Q303-a,60/100,2022-01-01T00:00:00Z,5
      |http://www.wikidata.org/entity/Q303,1003,wds:Q303-b,61/100,2022-01-01T00:00:00Z,5
      |http://www.wikidata.org/entity/Q304,1004,,,,
      |http://www.wikidata.org/entity/Q305,1005,wds:Q305-aaa,80/100,2022-01-01T00:00:00Z,20
      |""".stripMargin
  private val ocEmptyCsv =
    "item,opencritic_id,statement,review_score,point_in_time,number_of_reviews\n"

  private val ocFetch: Sparql.Fetch = { q =>
    val csv =
      if (q.contains("Q114712322")) ocTopCsv
      else if (q.contains("Q119576498")) ocEmptyCsv
      else fail(s"unexpected query: $q")
    csv.getBytes("UTF-8")
  }

  private def ocIndex: DataFrame = Seq(
    (1001L, 84.6, 90.0, 25L, java.sql.Date.valueOf("2023-05-01"),
      java.sql.Timestamp.valueOf("2023-06-01 10:00:00")),
    (1002L, 75.4, 80.0, 30L, java.sql.Date.valueOf("2023-05-02"),
      java.sql.Timestamp.valueOf("2023-06-02 10:00:00")),
    (1005L, 80.2, 85.0, 25L, java.sql.Date.valueOf("2023-05-03"),
      java.sql.Timestamp.valueOf("2023-06-03 10:00:00"))
  ).toDF("id", "top_critic_score", "percent_recommended", "num_reviews",
    "latest_review_date", "retrieved_at")

  private def ocSources = WdOpenCritic.Sources(
    sparqlFetch = ocFetch, apiIndex = () => ocIndex, blockedQids = Seq("Q42"))

  test("opencritic: add + update templates, keep-none dedup, staleness filter") {
    val out = WdOpenCritic.findTopCriticScore(spark, ocSources)
      .collect().map(_.getString(0)).sorted
    assert(out.length === 2)
    val add = out.find(_.contains("p:P444 [")).get
    val upd = out.find(_.contains("Update OpenCritic")).get
    assert(add.contains("<http://www.wikidata.org/entity/Q301> p:P444 ["))
    assert(add.contains("ps:P444 \"85/100\";"))
    assert(add.contains("wikibase:quantityAmount \"25\"^^xsd:decimal;"))
    assert(add.contains("pr:P2864 \"1001\";"))
    assert(add.contains("pqe:P585 \"2023-05-01\"^^xsd:date;"))
    assert(add.contains("pr:P813 \"2023-06-01\"^^xsd:date"))
    assert(upd.startsWith("\n<wds:Q302-aaa>"))
    assert(upd.contains("ps:P444 \"75/100\";"))
    // Q303 dropped by keep-none, Q304 by missing api row, Q305 fresh+same score
    assert(!out.mkString.contains("Q303") && !out.mkString.contains("Q304")
      && !out.mkString.contains("Q305"))
  }

  test("full tmdb pipeline concat emits all statements through the RDF sink") {
    val all = WdTmdb.fullPipeline(spark, sources)
    val bout = new java.io.ByteArrayOutputStream()
    graft.operators.Frames.printRdfStatements(all, out = new java.io.PrintStream(bout))
    val lines = bout.toString("UTF-8").trim.split("\n")
    assert(lines.length === 3)
    assert(lines.count(_.contains("wdt:P4947")) === 1)
    assert(lines.count(_.contains("wdt:P4983")) === 1)
    assert(lines.count(_.contains("DeprecatedRank")) === 1)
  }

  test("printing the full tmdb pipeline issues each API request exactly once") {
    val all = WdTmdb.fullPipeline(spark, sources)
    val before = stub.requestCount.get()
    stub.requestLog.clear()
    graft.operators.Frames.printRdfStatements(all,
      out = new java.io.PrintStream(new java.io.ByteArrayOutputStream()))
    val distinct = stub.requestLog.toArray.distinct.length
    assert(distinct > 0)
    assert(stub.requestCount.get() - before === distinct)
  }
}
