package perfbench

import java.nio.file.Path
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Http
import graft.pipelines.{WdOpenCritic, WdTmdb}
import graft.sources.{HttpParquet, Sparql}

/** Checks of the benchmark itself: generator determinism, the
  * known-answer model against the repository's golden pipeline
  * fixtures, stub calibration and span arithmetic. Returns the exit
  * code.
  */
object SelfTest {
  private val tiny = Sizes(
    movie = TypeSizes(items = 60, find = 12, statements = 40, candidates = 6),
    tv = TypeSizes(items = 30, find = 6, statements = 20, candidates = 6),
    person = TypeSizes(items = 40, find = 8, statements = 30, candidates = 6),
    tvdb = TypeSizes(items = 20, find = 4, statements = 0, candidates = 0),
    ocGames = 60)

  private val E = Gen.Entity
  private val d0 = LocalDate.of(2023, 1, 1)

  /** The golden fixtures of the repository's PipelineSpec, as inputs. */
  val fixture: Inputs = {
    val imdbEmpty = "item,imdb_id,tmdb_id\n"
    val movieCsv = Gen.csv("item,imdb_id,tmdb_id", Iterator(
      s"${E}Q101,tt1630029,", s"${E}Q102,tt5555,42", s"${E}Q103,tt777,", s"${E}Q104,tt777,",
      s"${E}Q42,tt888,", s"${E}Q106,tt9999,"))
    val sparql: Map[String, String] =
      Seq("P4947", "P4983", "P4985").flatMap(WdTmdb.imdbQueries).map(q =>
        q -> (if (q.contains("wd:Q11424")) movieCsv else imdbEmpty)).toMap ++ Map(
        WdTmdb.TvdbQuery -> s"item,tvdb_id,tmdb_id\n${E}Q201,77000,\n",
        WdTmdb.notDeprecatedQuery("P4947") -> "statement,id\nwds:Q1-dead,3106\nwds:Q2-alive,2\n",
        WdTmdb.notDeprecatedQuery("P4983") -> "statement,id\n",
        WdTmdb.notDeprecatedQuery("P4985") -> "statement,id\n",
        WdOpenCritic.query("Q114712322") -> Gen.csv(
          "item,opencritic_id,statement,review_score,point_in_time,number_of_reviews", Iterator(
            s"${E}Q301,1001,,,,",
            s"${E}Q302,1002,wds:Q302-aaa,70/100,2022-01-01T00:00:00Z,12",
            s"${E}Q303,1003,wds:Q303-a,60/100,2022-01-01T00:00:00Z,5",
            s"${E}Q303,1003,wds:Q303-b,61/100,2022-01-01T00:00:00Z,5",
            s"${E}Q304,1004,,,,",
            s"${E}Q305,1005,wds:Q305-aaa,80/100,2022-01-01T00:00:00Z,20")),
        WdOpenCritic.query("Q119576498") ->
          "item,opencritic_id,statement,review_score,point_in_time,number_of_reviews\n")
    Inputs(
      sparql = sparql,
      tmdbIndex = Map(
        "movie" -> Seq(TmdbRow(999, Some(1630029), None, d0, success = true),
          TmdbRow(3106, None, None, d0, success = false), TmdbRow(2, Some(4444), None, d0, success = false),
          TmdbRow(77, Some(5555), None, d0, success = true)),
        "tv" -> Seq(TmdbRow(615, None, Some(77000), d0, success = true)),
        "person" -> Nil),
      ocIndex = Seq(
        OcRow(1001, Some(84.6), Some(90.0), 25, Some(LocalDate.of(2023, 5, 1)),
          Some(LocalDateTime.of(2023, 6, 1, 10, 0))),
        OcRow(1002, Some(75.4), Some(80.0), 30, Some(LocalDate.of(2023, 5, 2)),
          Some(LocalDateTime.of(2023, 6, 2, 10, 0))),
        OcRow(1005, Some(80.2), Some(85.0), 25, Some(LocalDate.of(2023, 5, 3)),
          Some(LocalDateTime.of(2023, 6, 3, 10, 0)))),
      find = Map(("imdb_id", "tt1630029") -> ("movie", 76600L), ("tvdb_id", "77000") -> ("tv", 615L)),
      exists = Set(("movie", 2L), ("movie", 3L), ("collection", 87255L), ("tv", 615L), ("person", 7L)),
      blocked = Seq("Q42", "Q100"))
  }

  /** Statements the PipelineSpec fixtures assert. */
  val fixtureTmdb: Map[String, Seq[String]] = Map(
    "imdb_movie" -> Seq(s"""<${E}Q101> wdt:P4947 "76600" ; """ +
      """wikidatabots:editSummary "Add TMDb movie ID claim via associated IMDb ID" ."""),
    "tvdb" -> Seq(s"""<${E}Q201> wdt:P4983 "615" ; """ +
      """wikidatabots:editSummary "Add TMDb TV series ID claim via associated TheTVDB.com series ID" ."""),
    "not_found_movie" -> Seq("<wds:Q1-dead> wikibase:rank wikibase:DeprecatedRank ; " +
      """pq:P2241 wd:Q21441764 ; wikidatabots:editSummary "Deprecate removed TMDB movie ID" ."""))

  private def check(name: String)(body: => Boolean): Boolean = {
    val ok = try body catch { case e: Exception => System.err.println(s"[selftest] $name: $e"); false }
    println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $name")
    ok
  }

  /** Runs both pipelines on `in` through a stub and returns each
    * sub-pipeline's statements.
    */
  private def runPrograms(spark: SparkSession, in: Inputs, dir: Path): Map[String, Seq[String]] = {
    val stub = new Stub(in, IndexFiles.write(spark, in, dir, withOc = true), 0, "k", 2)
    try {
      Option(HttpParquet.cacheDir.toFile.listFiles()).foreach(_.foreach(_.delete()))
      val fetch = Sparql.httpFetch(Sparql.Config(endpoint = stub.sparqlEndpoint))
      val tm = WdTmdb.Sources(fetch, t => HttpParquet.read(spark, stub.indexUrl(s"tmdb-$t")),
        stub.base, "k", Http.JdkTransport, in.blocked)
      val oc = WdOpenCritic.Sources(fetch, () => HttpParquet.read(spark, stub.indexUrl("opencritic")),
        in.blocked)
      def rows(df: DataFrame) = df.collect().map(_.getString(0)).toSeq
      Map(
        "imdb_movie" -> rows(WdTmdb.findTmdbIdsViaImdbId(spark, "movie", tm)),
        "imdb_tv" -> rows(WdTmdb.findTmdbIdsViaImdbId(spark, "tv", tm)),
        "tvdb" -> rows(WdTmdb.findTmdbIdsViaTvdbId(spark, tm)),
        "imdb_person" -> rows(WdTmdb.findTmdbIdsViaImdbId(spark, "person", tm)),
        "not_found_movie" -> rows(WdTmdb.findTmdbIdsNotFound(spark, "movie", tm)),
        "not_found_tv" -> rows(WdTmdb.findTmdbIdsNotFound(spark, "tv", tm)),
        "not_found_person" -> rows(WdTmdb.findTmdbIdsNotFound(spark, "person", tm)),
        "top_critic" -> rows(WdOpenCritic.findTopCriticScore(spark, oc)),
        "percent_recommended" -> rows(WdOpenCritic.findPercentRecommended(spark, oc)))
    } finally stub.stop()
  }

  private def sameAnswers(got: Map[String, Seq[String]], exp: Map[String, Seq[String]]): Boolean =
    exp.keys.forall { k =>
      val ok = got(k).sorted == exp(k).sorted
      if (!ok) System.err.println(s"[selftest] $k: got ${got(k).size}, expected ${exp(k).size}")
      ok
    }

  def run(spark: SparkSession, workdir: Path): Int = {
    val results = Seq(
      check("same seed gives byte-identical inputs") {
        val (a, b, c) = (Gen(7, tiny), Gen(7, tiny), Gen(8, tiny))
        val fa = IndexFiles.write(spark, a, workdir.resolve("det-a"), withOc = true)
        val fb = IndexFiles.write(spark, b, workdir.resolve("det-b"), withOc = true)
        a == b && a != c && fa.keySet == fb.keySet &&
          fa.forall { case (k, v) => java.util.Arrays.equals(v, fb(k)) }
      },
      check("known answers reproduce the PipelineSpec fixture statements") {
        val tm = KnownAnswer.tmdb(fixture)
        val oc = KnownAnswer.openCritic(fixture)
        val add = oc("top_critic").find(_.contains("p:P444 [")).getOrElse("")
        val upd = oc("top_critic").find(_.contains("Update OpenCritic")).getOrElse("")
        fixtureTmdb.forall { case (k, v) => tm(k) == v } &&
          tm.values.flatten.size == 3 && oc("top_critic").size == 2 &&
          add.contains(s"<${E}Q301> p:P444 [") && add.contains("ps:P444 \"85/100\";") &&
          add.contains("wikibase:quantityAmount \"25\"^^xsd:decimal;") &&
          add.contains("pr:P2864 \"1001\";") && add.contains("pqe:P585 \"2023-05-01\"^^xsd:date;") &&
          add.contains("pr:P813 \"2023-06-01\"^^xsd:date") &&
          upd.startsWith("\n<wds:Q302-aaa>") && upd.contains("ps:P444 \"75/100\";") &&
          oc("percent_recommended").isEmpty
      },
      check("program output equals known answers on the fixture") {
        sameAnswers(runPrograms(spark, fixture, workdir.resolve("fixture-index")),
          KnownAnswer.tmdb(fixture) ++ KnownAnswer.openCritic(fixture))
      },
      check("program output equals known answers on a tiny generated instance") {
        val in = Gen(11, tiny)
        val exp = KnownAnswer.tmdb(in) ++ KnownAnswer.openCritic(in)
        exp.values.forall(_.nonEmpty) && sameAnswers(runPrograms(spark, in, workdir.resolve("tiny-index")), exp)
      },
      check("stub calibration: bare round trip under 3 ms, delay honoured") {
        val in = Gen(7, tiny)
        val zero = new Stub(in, Map.empty, 0, "k", 2)
        val delayed = new Stub(in, Map.empty, 5, "k", 2)
        try {
          val bare = Stub.roundTripMedianMs(zero, 300)
          val url = s"${delayed.base}/3/movie/1?api_key=k"
          val ms = (0 until 50).map { _ =>
            val t0 = System.nanoTime(); Http.JdkTransport.get(url, Nil, 5000); (System.nanoTime() - t0) / 1e6
          }.sorted
          val withDelay = ms(ms.size / 2)
          println(f"[selftest] round trip $bare%.3f ms bare, $withDelay%.3f ms at 5 ms delay")
          bare < PipelineWorkload.MaxRoundTripMs && withDelay >= 5.0 && withDelay < 5.0 + PipelineWorkload.MaxRoundTripMs
        } finally { zero.stop(); delayed.stop() }
      },
      check("span self time subtracts the union of child spans") {
        val spans = Seq(Span(0, "root", -1, 0, 100), Span(1, "a", 0, 10, 30), Span(2, "b", 0, 20, 50),
          Span(3, "a.x", 1, 12, 14), Span(4, "c", 0, 90, 120), Span(5, "d", 0, 60, 60))
        val self = Tracer.selfNs(spans)
        self == Map(0 -> 50L, 1 -> 18L, 2 -> 30L, 3 -> 2L, 4 -> 30L, 5 -> 0L) &&
          Tracer.coverNs(Seq((0L, 5L), (3L, 8L), (10L, 12L))) == 10L
      })
    if (results.forall(identity)) 0 else 1
  }
}
