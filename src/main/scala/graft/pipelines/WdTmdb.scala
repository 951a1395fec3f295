package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColumnOps._
import graft.operators.{Frames, Http}
import graft.sources.{Sparql, Wikidata}

/** Wikidata ↔ TMDB reconciliation pipeline (wd_tmdb.py), re-expressed
  * as Spark DataFrame plans. All external surfaces are injected
  * through [[Sources]] so tests run against local stubs and fixtures
  * (the reference tests against live services; we cannot).
  */
object WdTmdb {

  /** External-world dependencies of the pipeline. */
  final case class Sources(
      sparqlFetch: Sparql.Fetch,
      tmdbIndex: String => DataFrame,   // tmdbType -> index frame (id, imdb_numeric_id, [tvdb_id], date, success)
      apiBase: String,                  // https://api.themoviedb.org or a stub
      apiKey: String,
      transport: Http.Transport,
      blockedQids: Seq[String])

  val ImdbIdPattern: Map[String, String] = Map(
    "movie" -> "tt(\\d+)", "tv" -> "tt(\\d+)", "person" -> "nm(\\d+)")

  val TypeToPid: Map[String, String] = Map(
    "movie" -> "P4947", "tv" -> "P4983", "person" -> "P4985")

  val PidLabel: Map[String, String] = Map(
    "P4947" -> "TMDb movie ID", "P4983" -> "TMDb TV series ID",
    "P4985" -> "TMDb person ID")

  /** wd_tmdb.py:20-25: numeric id out of tt/nm-prefixed IMDb ids;
    * lenient cast (null on overflow/garbage).
    */
  def extractImdbNumericId(c: Column, tmdbType: String): Column =
    castLenient(extractFirst(c, ImdbIdPattern(tmdbType)), LongType)
      .as("imdb_numeric_id")

  private val FindResponseSchema = StructType(
    Seq("movie_results", "tv_results", "person_results").map(f =>
      StructField(f, ArrayType(StructType(Seq(StructField("id", LongType)))))))

  /** wd_tmdb.py:58-84 `tmdb_find`: /3/find/{external_id} → first
    * result id of the requested type. Adds a `tmdb_id` column.
    */
  def tmdbFind(df: DataFrame, extIdCol: String, tmdbType: String,
               externalIdType: String, src: Sources): DataFrame = {
    val prepared = df.withColumn("request", Http.prepareRequest(
      url = fmt(s"{}/3/find/{}", lit(src.apiBase), col(extIdCol)),
      fields = Seq("external_source" -> lit(externalIdType),
        "api_key" -> lit(src.apiKey))))
    Http.request(prepared, "request",
        Http.Options(logGroup = s"tmdb/find", okStatuses = Set(200, 404)),
        src.transport)
      .withColumn("tmdb_id",
        from_json(Http.responseText(col("response")), FindResponseSchema)
          .getField(s"${tmdbType}_results")
          .transform(c => listFirst(c)).getField("id"))
      .drop("request", "response")
  }

  /** wd_tmdb.py:31-46 `tmdb_exists`: GET /3/{type}/{id} (404 is an
    * expected status); decoded id present? Adds `exists` boolean.
    */
  def tmdbExists(df: DataFrame, idCol: String, tmdbType: String,
                 src: Sources, existsCol: String = "exists"): DataFrame = {
    val prepared = df.withColumn("request", Http.prepareRequest(
      url = fmt(s"{}/3/{}/{}", lit(src.apiBase), lit(tmdbType), col(idCol)),
      fields = Seq("api_key" -> lit(src.apiKey))))
    Http.request(prepared, "request",
        Http.Options(logGroup = s"tmdb/$tmdbType", okStatuses = Set(200, 404)),
        src.transport)
      .withColumn(existsCol,
        from_json(Http.responseText(col("response")),
          StructType(Seq(StructField("id", LongType))))
          .getField("id").isNotNull)
      .drop("request", "response")
  }

  private val ImdbQuerySchema = StructType(Seq(
    StructField("item", StringType), StructField("imdb_id", StringType),
    StructField("tmdb_id", LongType)))

  /** SPARQL query texts per PID (wd_tmdb.py:105-199). The exact
    * strings are pipeline data; stubs key canned CSV on them.
    */
  def imdbQueries(pid: String): Seq[String] = {
    val classes: Map[String, Seq[String]] = Map(
      "P4947" -> Seq("Q11424", "Q24856", "Q506240"),
      "P4983" -> Seq("Q5398426", "Q117467246"),
      "P4985" -> Seq("Q5"))
    classes(pid).map { qid =>
      s"""SELECT DISTINCT ?item ?imdb_id ?tmdb_id WHERE {
         |  ?item wdt:P345 ?imdb_id.
         |  ?item (wdt:P31/(wdt:P279*)) wd:$qid.
         |  OPTIONAL {
         |    ?item wdt:$pid ?tmdb_id.
         |    FILTER(xsd:integer(?tmdb_id))
         |  }
         |}""".stripMargin
    }
  }

  /** wd_tmdb.py:214-262 — the flagship pipeline shape. */
  def findTmdbIdsViaImdbId(spark: SparkSession, tmdbType: String,
                           src: Sources): DataFrame = {
    val pid = TypeToPid(tmdbType)

    val rdfStatement = fmt(
      "<{}> wdt:{} \"{}\" ; wikidatabots:editSummary \"{}\" .",
      col("item"), lit(pid), col("tmdb_id"),
      lit(s"Add ${PidLabel(pid)} claim via associated IMDb ID")
    ).as("rdf_statement")

    val tmdbDf = src.tmdbIndex(tmdbType)
      .select(col("id"), col("imdb_numeric_id"))
      .withColumnRenamed("id", "tmdb_id")
      .na.drop()
      // unique(subset, maintain_order=True): explicit deterministic
      // pick (lowest tmdb_id) — SURVEY.md §7.4 item 3
      .transform(df => Frames.uniqueFirst(df, Seq("imdb_numeric_id"), Seq(col("tmdb_id"))))

    val wdDf = Frames.concatFrames(
        imdbQueries(pid).map(q => Sparql.sparql(spark, q, ImdbQuerySchema, fetch = src.sparqlFetch)))
      .withColumn("imdb_numeric_id", extractImdbNumericId(col("imdb_id"), tmdbType))
      .withColumn("__uniq", isUniqueOver(col("imdb_numeric_id")))
      .filter(col("__uniq") && col("tmdb_id").isNull &&
        !Wikidata.isBlockedItem(col("item"), src.blockedQids))
      .drop("__uniq", "tmdb_id")
      .na.drop()

    val joined = wdDf.join(broadcast(tmdbDf), Seq("imdb_numeric_id"), "left")
      .na.drop()
      .select(col("item"), col("imdb_id"))

    tmdbFind(joined, "imdb_id", tmdbType, "imdb_id", src)
      .select(col("item"), col("tmdb_id"))
      .na.drop()
      .select(rdfStatement)
  }

  private val TvdbQuerySchema = StructType(Seq(
    StructField("item", StringType), StructField("tvdb_id", LongType),
    StructField("tmdb_id", LongType)))

  val TvdbQuery: String =
    """SELECT DISTINCT ?item ?tvdb_id ?tmdb_id WHERE {
      |  ?item wdt:P4835 ?tvdb_id.
      |  VALUES ?class { wd:Q5398426 wd:Q117467246 }
      |  ?item (wdt:P31/(wdt:P279*)) ?class.
      |  FILTER(xsd:integer(?tvdb_id))
      |  OPTIONAL {
      |    ?item wdt:P4983 ?tmdb_id.
      |    FILTER(xsd:integer(?tmdb_id))
      |  }
      |}""".stripMargin

  /** wd_tmdb.py:298-345. */
  def findTmdbIdsViaTvdbId(spark: SparkSession, src: Sources): DataFrame = {
    val pid = "P4983"
    val rdfStatement = fmt(
      "<{}> wdt:{} \"{}\" ; wikidatabots:editSummary \"{}\" .",
      col("item"), lit(pid), col("tmdb_id"),
      lit(s"Add ${PidLabel(pid)} claim via associated TheTVDB.com series ID")
    ).as("rdf_statement")

    val tmdbDf = src.tmdbIndex("tv")
      .select(col("id"), col("tvdb_id"))
      .withColumnRenamed("id", "tmdb_id")
      .na.drop()
      .transform(df => Frames.uniqueFirst(df, Seq("tvdb_id"), Seq(col("tmdb_id"))))

    val wdDf = Sparql.sparql(spark, TvdbQuery, TvdbQuerySchema, fetch = src.sparqlFetch)
      .withColumn("__uniq", isUniqueOver(col("tvdb_id")))
      .filter(col("__uniq") && col("tmdb_id").isNull &&
        !Wikidata.isBlockedItem(col("item"), src.blockedQids))
      .drop("__uniq", "tmdb_id")
      .na.drop()

    val joined = wdDf.join(broadcast(tmdbDf), Seq("tvdb_id"), "left")
      .na.drop()
      .select(col("item"), col("tvdb_id"))

    tmdbFind(joined, "tvdb_id", "tv", "tvdb_id", src)
      .select(col("item"), col("tmdb_id"))
      .na.drop()
      .select(rdfStatement)
  }

  def notDeprecatedQuery(pid: String): String =
    s"""SELECT ?statement ?id WHERE {
       |  ?statement ps:$pid ?id.
       |  ?statement wikibase:rank ?rank.
       |  FILTER(?rank != wikibase:DeprecatedRank)
       |  FILTER(xsd:integer(?id))
       |}""".stripMargin

  /** wd_tmdb.py:358-391: deprecate ids that vanished from TMDB. */
  def findTmdbIdsNotFound(spark: SparkSession, tmdbType: String,
                          src: Sources): DataFrame = {
    val pid = TypeToPid(tmdbType)
    val rdfStatement = fmt(
      "<{}> wikibase:rank wikibase:DeprecatedRank ; pq:P2241 wd:Q21441764 ; " +
        "wikidatabots:editSummary \"{}\" .",
      col("statement"), lit(s"Deprecate removed TMDB $tmdbType ID")
    ).as("rdf_statement")

    val tmdbDf = src.tmdbIndex(tmdbType).select(col("id"), col("date"), col("success"))

    val schema = StructType(Seq(
      StructField("statement", StringType), StructField("id", LongType)))
    val df = Sparql.sparql(spark, notDeprecatedQuery(pid), schema, fetch = src.sparqlFetch)

    val candidates = df.join(broadcast(tmdbDf), Seq("id"), "left")
      .filter(!col("success"))
      .withColumnRenamed("id", "tmdb_id")

    val checked =
      if (tmdbType == "movie") {
        // movie ids may exist as collections (wd_tmdb.py:376-380)
        val m = tmdbExists(candidates, "tmdb_id", "movie", src, "exists_movie")
        tmdbExists(m, "tmdb_id", "collection", src, "exists_collection")
          .withColumn("exists", col("exists_movie") || col("exists_collection"))
      } else tmdbExists(candidates, "tmdb_id", tmdbType, src)

    checked.filter(!col("exists")).select(rdfStatement)
  }

  /** wd_tmdb.py:394-405 — all seven sub-pipelines concatenated into
    * the RDF sink.
    */
  def fullPipeline(spark: SparkSession, src: Sources): DataFrame =
    Frames.concatFrames(Seq(
      findTmdbIdsViaImdbId(spark, "movie", src),
      findTmdbIdsViaImdbId(spark, "tv", src),
      findTmdbIdsViaTvdbId(spark, src),
      findTmdbIdsViaImdbId(spark, "person", src),
      findTmdbIdsNotFound(spark, "movie", src),
      findTmdbIdsNotFound(spark, "tv", src),
      findTmdbIdsNotFound(spark, "person", src)))
}
